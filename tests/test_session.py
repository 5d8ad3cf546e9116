"""Session defaults: generated-class cache size and driver memory."""

from golang_etl_spark import session


def _compilations(spark) -> int:
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def test_warm_rerun_reuses_generated_classes(spark):
    # 150 queries that differ only in an inlined literal: each needs
    # its own generated class, so the set outgrows Spark's default
    # 100-entry cache and, under it, a rerun recompiles every query
    def run_all() -> int:
        before = _compilations(spark)
        for i in range(150):
            spark.range(4).selectExpr(f"id * 7919 + {i} AS x").collect()
        return _compilations(spark) - before

    cold = run_all()
    assert cold > 100
    warm = run_all()
    assert warm <= 5, f"warm rerun compiled {warm} classes (cold: {cold})"


def test_driver_memory_env_override(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "3g")
    assert session.default_driver_memory() == "3g"


def test_driver_memory_is_half_ram_capped_at_32g(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    page = 4096
    for phys_gib, want in ((15, "7680m"), (64, "32768m"), (256, "32768m")):
        pages = phys_gib * 2**30 // page
        monkeypatch.setattr(
            session.os,
            "sysconf",
            lambda k, pages=pages: {"SC_PAGE_SIZE": page, "SC_PHYS_PAGES": pages}[k],
        )
        assert session.default_driver_memory() == want
