"""Plan-text renumbering of tools/dump_plans.py, checked without Spark."""

from __future__ import annotations

from tools.dump_plans import mask_artifacts, renumber


def test_renumber_is_per_plan_in_first_seen_order():
    # The same plan printed by two sessions whose global counters stood
    # at different values when it was planned.
    first = (
        "Project [a#41L, b#7, transform(h#7, lambdafunction((lambda x_12#50L + 1), "
        "lambda x_12#50L, false)) AS g#52]\n"
        "Exchange hashpartitioning(a#41L, 8), ENSURE_REQUIREMENTS, [plan_id=39]\n"
        "Output: [sum(v#3)#60, _common_expr_4#61, lambda y_13#51]"
    )
    second = (
        "Project [a#900L, b#88, transform(h#88, lambdafunction((lambda x_3#901L + 1), "
        "lambda x_3#901L, false)) AS g#905]\n"
        "Exchange hashpartitioning(a#900L, 8), ENSURE_REQUIREMENTS, [plan_id=2]\n"
        "Output: [sum(v#77)#906, _common_expr_0#907, lambda y_4#903]"
    )
    want = (
        "Project [a#0L, b#1, transform(h#1, lambdafunction((lambda x_0#2L + 1), "
        "lambda x_0#2L, false)) AS g#3]\n"
        "Exchange hashpartitioning(a#0L, 8), ENSURE_REQUIREMENTS, [plan_id=0]\n"
        "Output: [sum(v#4)#5, _common_expr_0#6, lambda y_1#7]"
    )
    assert renumber(first) == want
    assert renumber(second) == want
    # One lambda name printed for two variables (a Python lambda Column
    # used twice) gets one number per variable.
    assert renumber("lambda x_30#742, lambda x_30#743, lambda x_31#744") == (
        "lambda x_0#0, lambda x_1#1, lambda x_2#2"
    )
    # RDD ids and the reflective call site of a checkpointed scan.
    assert renumber(
        "MapPartitionsRDD[188] at localCheckpoint at NativeMethodAccessorImpl.java:0"
    ) == "MapPartitionsRDD[0] at localCheckpoint at <unknown>:0"
    # Idempotent, and text that only looks like a counter is kept.
    assert renumber(want) == want
    assert renumber("Condition : (text#3 = a #1 tag)") == "Condition : (text#0 = a #1 tag)"
    # The artifact cache root and each artifact dir's digest of the
    # corpus path and mtimes are masked; other paths are kept.
    for root in ("/srv/idx", "/srv/idx/"):
        assert mask_artifacts(
            "Location: InMemoryFileIndex [file:/srv/idx/ivfpq_c16_sf0.01_5b4b701b/index]\n"
            "Location: InMemoryFileIndex [file:/data/sf0.01_5b4b701b/events.parquet]",
            root,
        ) == (
            "Location: InMemoryFileIndex [file:<artifact_root>/ivfpq_c16_sf0.01_<digest>/index]\n"
            "Location: InMemoryFileIndex [file:/data/sf0.01_5b4b701b/events.parquet]"
        )
