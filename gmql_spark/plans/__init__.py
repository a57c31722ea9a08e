from gmql_spark.plans.dsl import compile_script, run_script  # noqa: F401
from gmql_spark.plans.inspect import assert_no_object_agg, plan_report  # noqa: F401
