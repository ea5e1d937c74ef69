"""End-to-end query plans: the driver-facing query registry, the genmock
stats report, and the validate assertion suite."""


def load_all() -> dict:
    """Import every query module, which registers its queries, and return
    the filled registry (name → QueryDef). Kept out of package import so
    that importing `plans` alone stays cheap."""
    from storm_data_etl_spark.plans import (  # noqa: F401
        corpus_queries,
        enrich_queries,
        geo_queries,
        lake_queries,
        ml_queries,
        retrieval_queries,
        sft_queries,
        window_queries,
    )
    from storm_data_etl_spark.plans.queries import REGISTRY

    return REGISTRY
