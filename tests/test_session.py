"""``session.get_spark`` keeps the generated-code working set resident:
a plan compiled earlier in the session is not compiled again after a
few hundred other classes were."""

from __future__ import annotations


def test_codegen_cache_outlives_a_round_of_plans(spark):
    compiles = (
        spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
        .METRIC_COMPILATION_TIME().getCount
    )

    def collect(i: int) -> None:
        spark.range(4).selectExpr(f"id * {i} + {i + 1}").collect()

    for i in range(150):  # 150 distinct plans, 300 generated classes
        collect(i)
    before = compiles()
    for i in range(20):
        collect(i)
    assert compiles() == before
