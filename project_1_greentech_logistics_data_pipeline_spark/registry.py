"""Central query registry: name -> (spark_fn, oracle_sql | None).

Operator modules register their queries with the :func:`query` decorator
and read tables through :func:`table`; :func:`_collect` imports the modules
in :data:`MODULES` and assembles the driver contract surface
(__spark_entry__.py::queries/oracle_sql). Registry order is the display order
in CORRECTNESS reports, and the driver verifies the FIRST 50 oracle-backed
queries only — so ordering rotates per round to get every oracle query a
driver-stamped row: queries WITHOUT a green hash_match row in any on-disk
CORRECTNESS_r*.json sort first (never-stamped, then failed-last-time), then
already-green ones, then rows-only queries. The stamped set is read from the
repo at import time, so each new round's report automatically advances the
rotation with no code change.
"""

from __future__ import annotations

import glob
import json
import os
import re
import warnings
from collections.abc import Callable
from importlib import import_module

from pyspark.sql import DataFrame, SparkSession

from .session import tune
from .sources.readers import load_table

_REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_report_warned = False


def _stamped_names() -> tuple[frozenset, frozenset, dict]:
    """(green, red, last_stamp_round): query names with a hash_match=true
    row in any driver CORRECTNESS report, names whose LATEST row is a
    mismatch, and the most recent round number that stamped each name
    (green or not) — used to cycle the verification window through the
    STALEST stamps once everything is green, instead of re-stamping the
    same 50 every round. An unreadable report contributes no stamps, which
    moves the rotation; the first one in a process emits one
    RuntimeWarning naming it."""
    global _report_warned
    green: set = set()
    latest: dict[str, bool] = {}
    last_round: dict[str, int] = {}
    for path in sorted(glob.glob(os.path.join(_REPO_ROOT, "CORRECTNESS_r*.json"))):
        try:
            with open(path) as fh:
                report = json.load(fh)
        except Exception as e:
            if not _report_warned:
                _report_warned = True
                warnings.warn(
                    f"skipping unreadable driver report {path} "
                    f"({type(e).__name__}); its stamps do not count toward "
                    "the verification rotation",
                    RuntimeWarning,
                    stacklevel=2,
                )
            continue
        # round number is freshness metadata only — an oddly named report
        # (no digits) must still contribute its green/red stamps, so the
        # parse may not throw the rows away with it
        m = re.search(r"_r0*(\d+)", os.path.basename(path))
        rnum = int(m.group(1)) if m else 0
        for name, row in report.items():
            ok = bool(row.get("hash_match")) and not row.get("err")
            if ok:
                green.add(name)
            # "latest" is decided by ROUND NUMBER, not file sort order: a
            # digitless report (round 0) sorts lexicographically after
            # _rNN files and must not override newer rounds' verdicts
            if rnum >= last_round.get(name, -1):
                latest[name] = ok
            last_round[name] = max(rnum, last_round.get(name, 0))
    red = {n for n, ok in latest.items() if not ok}
    return frozenset(green), frozenset(red), last_round


_GREEN, _RED, _LAST_ROUND = _stamped_names()


def _priority(name: str, sql: str | None) -> tuple[int, int]:
    """Driver-verification priority for the first-50 stamping window:
    0 = oracle queries whose latest driver row FAILED (re-verify first),
    1 = oracle queries never green-stamped by any round's driver check,
    2 = already-green oracles — ordered STALEST STAMP FIRST, so once the
        backlog is empty the window cycles through every oracle over
        ~4 rounds instead of re-stamping the same 50 (cumulative stamps
        stay fresh against testdata regeneration),
    3 = rows-only queries (no oracle row either way)."""
    if sql is None:
        return (3, 0)
    if name in _RED:
        return (0, 0)
    if name not in _GREEN:
        return (1, 0)
    return (2, _LAST_ROUND.get(name, 0))


# Every operator module that registers queries, in registry order. A module
# missing here fails _collect loudly; an import error propagates.
MODULES = (
    "relational", "scalar", "temporal", "classics", "classics2", "classics3",
    "quality", "subqueries", "dedup", "similarity", "text", "multimodal",
    "merge", "skew", "analytics", "text2", "bpe", "graph",
)

_QUERIES: dict[str, tuple[Callable, str | None]] = {}


def query(name: str, sql: str | None):
    """Register the decorated ``fn(spark, sf_dir) -> DataFrame`` as query
    ``name`` with its DuckDB oracle ``sql`` (None = rows-only). Returns
    ``fn`` itself, so ``fn.__module__`` names the defining module."""

    def deco(fn):
        if name in _QUERIES:
            raise ValueError(f"duplicate query name: {name}")
        _QUERIES[name] = (fn, sql)
        return fn

    return deco


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Tune the session, then load testdata table ``name`` from ``sf_dir``."""
    tune(spark)
    return load_table(spark, sf_dir, name)


def _collect() -> dict[str, tuple[Callable, str | None]]:
    prefix = f"{__package__}.operators."
    for mod in MODULES:
        import_module(prefix + mod)
    order = {prefix + mod: i for i, mod in enumerate(MODULES)}
    unlisted = {fn.__module__ for fn, _ in _QUERIES.values()} - order.keys()
    if unlisted:
        raise ValueError(f"query modules missing from registry.MODULES: {sorted(unlisted)}")
    # module order first, then definition order (sorted is stable): a module
    # that imports another at top level must not move that module's queries
    grouped = sorted(_QUERIES.items(), key=lambda kv: order[kv[1][0].__module__])
    ranked = sorted(
        enumerate(grouped), key=lambda t: (_priority(t[1][0], t[1][1][1]), t[0])
    )
    return {name: pair for _, (name, pair) in ranked}


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: fn for name, (fn, _) in _collect().items()}


def oracle_sql() -> dict[str, str]:
    return {name: sql for name, (_, sql) in _collect().items() if sql is not None}
