"""Session settings from ``get_spark`` that change how queries run,
checked on the shared test session."""

from __future__ import annotations

from cdw_spark.operators.artifacts import clear_all
from cdw_spark.registry import load_all
from cdw_spark.session import codegen_compiles

# The benchmark's eager_operators workload, in its order.
EAGER_OPERATORS = [
    "agg_bowley_skewness",
    "recs_lists_materialize",
    "recs_item_cooccurrence",
    "stream_bloom_dedup_ingest",
]


def _forget_generated_classes(spark) -> None:
    """Empty Spark's generated-class cache, so the first pass below
    compiles its whole working set whatever earlier tests ran. The cache
    is a private field of the ``CodeGenerator`` object, hence reflection."""
    gen = spark.sparkContext._jvm.java.lang.Class.forName(
        "org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator$"
    )
    field = gen.getDeclaredField("cache")
    field.setAccessible(True)
    field.get(gen.getField("MODULE$").get(None)).invalidateAll()


def test_warm_pass_reuses_generated_classes(spark, sf_dir):
    """A second identical pass over the eager operators, each pass from an
    empty artifact store, compiles at most a tenth of the classes the
    first pass compiled: the codegen cache holds the pass's working set.
    With Spark's default of 100 entries the pass overflows the cache and
    recompiles about as much as it did the first time."""
    specs = load_all()
    _forget_generated_classes(spark)
    compiled = []
    for _ in range(2):
        clear_all()
        before = codegen_compiles(spark)
        for name in EAGER_OPERATORS:
            specs[name].fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        compiled.append(codegen_compiles(spark) - before)
    first, second = compiled
    assert first > 0
    assert second <= first / 10, compiled
