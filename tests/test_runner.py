"""Pipeline runner: ordered, timed steps that fail fast (no Spark needed)."""

from __future__ import annotations

import pytest

from logicash_etl_spark.pipeline.runner import Pipeline, Step


def test_steps_run_in_order_and_a_failure_stops_the_run():
    runs: list[str] = []

    def ok(name):
        def fn(ctx):
            runs.append(name)
            return f"{name}-result"
        return fn

    def boom(ctx):
        runs.append("three")
        assert ctx["two"] == "two-result"  # earlier results are in the context
        raise RuntimeError("step 3 dies")

    pipe = Pipeline([Step("one", ok("one")), Step("two", ok("two")), Step("three", boom), Step("four", ok("four"))])
    with pytest.raises(RuntimeError, match="step 3 dies"):
        pipe.run()
    assert runs == ["one", "two", "three"]
    m = pipe.context["__manifest__"]
    assert [(e["step"], e["status"]) for e in m] == [("one", "ok"), ("two", "ok"), ("three", "failed")]
    assert all(set(e) == {"step", "status", "sec"} and e["sec"] >= 0 for e in m)
    assert "three" not in pipe.context and "four" not in pipe.context

    ctx = Pipeline([Step("one", ok("one")), Step("two", ok("two"))]).run()
    assert ctx["one"] == "one-result" and ctx["two"] == "two-result"
    assert [e["status"] for e in ctx["__manifest__"]] == ["ok", "ok"]
