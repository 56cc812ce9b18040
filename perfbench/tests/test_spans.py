"""Span recording and function rebinding, with a fake job counter in place
of the Spark driver."""

import types

import spans


class FakeSpark:
    def __init__(self):
        self.jobs = 0

    def next_job_id(self):
        return self.jobs


def test_wrap_records_nested_spans_and_unwrap_restores():
    fake = FakeSpark()
    mod = types.SimpleNamespace()

    def work(x):
        fake.jobs += 2  # the call submits two jobs
        return x + 1

    mod.work = work
    tracer = spans.Tracer(fake)
    tracer.wrap(mod, "work", "layer.work")
    with tracer.span("pass"):
        assert mod.work(1) == 2
    outer, inner = tracer.spans
    assert inner["name"] == "layer.work" and inner["parent"] == 0
    assert (inner["job_lo"], inner["job_hi"]) == (0, 2)
    assert (outer["job_lo"], outer["job_hi"]) == (0, 2)
    assert outer["start"] <= inner["start"] <= inner["end"] <= outer["end"]
    tracer.unwrap()
    assert mod.work is work
