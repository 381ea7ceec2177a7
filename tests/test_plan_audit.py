"""tools/plan_audit.stable_ids: the plan text PLANS.md records must not
depend on what the session planned before (no Spark needed)."""

from tools.plan_audit import stable_ids

PLAN = ("Project [transform(v#17, lambdafunction((lambda x_1805#18 * 2), "
        "lambda x_1805#18, false)) AS a#19, aggregate(v#17, 0.0, "
        "lambdafunction((lambda x_1806#20 + lambda y_1807#21), "
        "lambda x_1806#20, lambda y_1807#21, false), "
        "lambdafunction(lambda id#22, lambda id#22, false)) AS s#23]\n"
        "Exchange hashpartitioning(a#19, 4), plan_id=41\n"
        "Filter (lambda x_1805#18 > 0)")


def test_lambda_variables_renumbered_by_first_appearance():
    assert stable_ids(PLAN) == (
        "Project [transform(v#0, lambdafunction((lambda x_0#1 * 2), "
        "lambda x_0#1, false)) AS a#2, aggregate(v#0, 0.0, "
        "lambdafunction((lambda x_1#3 + lambda y_2#4), "
        "lambda x_1#3, lambda y_2#4, false), "
        "lambdafunction(lambda id#5, lambda id#5, false)) AS s#6]\n"
        "Exchange hashpartitioning(a#2, 4), plan_id=0\n"
        "Filter (lambda x_0#1 > 0)")


def test_plan_text_independent_of_earlier_lambdas():
    # the same plan built after 43 more lambdas elsewhere in the session
    shifted = PLAN
    for old, new in (("1807", "1850"), ("1806", "1849"),
                     ("1805", "1848")):
        shifted = shifted.replace("_" + old + "#", "_" + new + "#")
    assert shifted != PLAN
    assert stable_ids(shifted) == stable_ids(PLAN)


def test_non_lambda_names_keep_their_digits():
    plan = "Project [_common_expr_3#7 AS col_12#8, lambda x_9#9]"
    assert stable_ids(plan) == (
        "Project [_common_expr_3#0 AS col_12#1, lambda x_0#2]")
