"""EXPLAIN.md normalization: a regenerated report must not churn on
session-global ids."""

from tools.explain_report import normalize_ids


def test_normalize_ids_depends_only_on_plan_shape():
    a = ("Project [u#2318L, v#2319L]\n"
         "Arguments: hashpartitioning(u#2318L, 32), [plan_id=196]\n"
         "Arguments: [u#2318L], MapPartitionsRDD[113] at localCheckpoint")
    b = ("Project [u#7L, v#41L]\n"
         "Arguments: hashpartitioning(u#7L, 32), [plan_id=5]\n"
         "Arguments: [u#7L], MapPartitionsRDD[9] at localCheckpoint")
    want = ("Project [u#1L, v#2L]\n"
            "Arguments: hashpartitioning(u#1L, 32), [plan_id=1]\n"
            "Arguments: [u#1L], MapPartitionsRDD[1] at localCheckpoint")
    assert normalize_ids(a) == normalize_ids(b) == want


def test_normalize_ids_keeps_distinct_ids_and_other_text():
    plan = ("Join [a#10], [b#10]\nReusedExchange [Reuses operator id: 12]\n"
            "concat_ws(#, subj, x#30) ParallelCollectionRDD[30] "
            "input[0, bigint, false] (4) [codegen id : 3]")
    assert normalize_ids(plan) == (
        "Join [a#1], [b#1]\nReusedExchange [Reuses operator id: 12]\n"
        "concat_ws(#, subj, x#2) ParallelCollectionRDD[1] "
        "input[0, bigint, false] (4) [codegen id : 3]")
