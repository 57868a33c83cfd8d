"""tools/plan_dump.normalize_plan: two dumps of one plan compare equal."""

from tools.plan_dump import normalize_plan


def test_normalize_plan_renumbers_ids_and_drops_plan_id():
    a = (
        "Exchange hashpartitioning(x#187L, 4), ENSURE_REQUIREMENTS, [plan_id=187]\n"
        "+- Project [x#187L, y#12 AS z#3]\n"
        "Output [2]: [x#187L, z#3]\n"
        "Arguments: [x#187L], MapPartitionsRDD[226] at applySchemaToPythonRDD\n"
    )
    b = (
        "Exchange hashpartitioning(x#901L, 4), ENSURE_REQUIREMENTS, [plan_id=333]\n"
        "+- Project [x#901L, y#40 AS z#41]\n"
        "Output [2]: [x#901L, z#41]\n"
        "Arguments: [x#901L], MapPartitionsRDD[221] at applySchemaToPythonRDD\n"
    )
    want = (
        "Exchange hashpartitioning(x#1L, 4), ENSURE_REQUIREMENTS, [plan_id]\n"
        "+- Project [x#1L, y#2 AS z#3]\n"
        "Output [2]: [x#1L, z#3]\n"
        "Arguments: [x#1L], MapPartitionsRDD[1] at applySchemaToPythonRDD\n"
    )
    assert normalize_plan(a) == want
    assert normalize_plan(b) == want


def test_normalize_plan_keeps_distinct_ids_distinct():
    assert normalize_plan("a#5 b#5") == "a#1 b#1"
    assert normalize_plan("a#5 b#6") == "a#1 b#2"
    assert normalize_plan("no ids here") == "no ids here"
