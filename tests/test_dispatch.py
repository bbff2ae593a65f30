"""Per-model dispatch, faceter registry, child docs and aggregate-field tests."""

import os

from pyspark.sql import functions as F


def test_model_dispatch_unions_branches(spark, corpus_dir):
    from solrizer_spark.plans.pipeline import run_model_chains

    pages = spark.read.parquet(os.path.join(corpus_dir, "pages"))
    chains = {
        "html": ["content_model", "discoverability", "dates", "facets",
                 "aggregate_fields", "doc"],
        "plain": ["content_model", "dates", "facets", "aggregate_fields", "doc"],
        "__default__": ["content_model", "dates", "facets", "doc"],
    }
    out = run_model_chains(pages, chains).cache()
    assert out.count() == pages.count()  # no rows lost in the union
    # html branch ran discoverability; plain branch did not (nulls)
    assert out.where((F.col("route") == "html") & F.col("is_published").isNull()).count() == 0
    assert out.where((F.col("route") == "plain") & F.col("is_published").isNotNull()).count() == 0
    # default branch (tagged/failed) still has the doc column
    assert out.where(F.col("route") == "tagged").select("doc").first().doc is not None
    out.unpersist()


def test_pluggable_faceter_registry(spark, corpus_dir):
    """Custom faceters (solrizer_faceters entry-point analog,
    facets.py:38-49) append {name}__facet columns."""
    from pyspark.sql import functions as F

    from solrizer_spark.plans.pipeline import FACETERS, run_chain

    FACETERS["decade"] = lambda df: F.concat(
        (F.year("warc_ts") - F.year("warc_ts") % 10).cast("string"), F.lit("s")
    )
    try:
        pages = spark.read.parquet(os.path.join(corpus_dir, "pages"))
        # registered faceters are selected per chain via conf (the
        # solrizer_faceters entry points register classes; the per-model
        # config picks which run)
        out = run_chain(
            pages, conf={"faceters": ["language", "ocr", "domain", "decade"]}
        )
        row = out.select("language__facet", "decade__facet").first()
        assert row["decade__facet"].endswith("0s")
    finally:
        del FACETERS["decade"]


def test_child_docs_stage(spark, corpus_dir):
    """Nested child documents from kept blocks (content_model.py:324-336
    analog): one struct per kept block, parent url as _root_."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from solrizer_spark.plans.pipeline import run_chain

    pages = spark.read.parquet(os.path.join(corpus_dir, "pages"))
    chain = ["extract", "content_model", "child_docs", "doc" ]
    out = run_chain(pages, ["extract", "content_model", "child_docs"],
                    {"include_blocks": True})
    row = out.where(F.col("blocks_kept") > 1).select("url", "pages").first()
    assert len(row.pages) > 1
    assert all(p._root_ == row.url for p in row.pages)
    assert row.pages[0].id.endswith("#block-" + str(row.pages[0].page_index__int))
    # fast path (no blocks) must fail loudly, not silently omit
    with _pytest.raises(ValueError, match="include_blocks"):
        run_chain(pages, ["extract", "child_docs"])


def test_configurable_aggregate_fields(spark, corpus_dir):
    from pyspark.sql import functions as F

    from solrizer_spark.plans.pipeline import run_chain

    pages = spark.read.parquet(os.path.join(corpus_dir, "pages"))
    conf = {"aggregate_fields": {"agg_text": ["extracted_text", "missing_col?"],
                                 "agg_all": ["url", "route"]}}
    out = run_chain(pages, ["extract", "aggregate_fields"], conf)
    row = out.where(F.col("extracted_text").isNotNull()).select("agg_text", "agg_all").first()
    assert len(row.agg_text) == 1  # optional missing col skipped
    assert len(row.agg_all) == 2
    # required missing column fails fast
    import pytest as _pytest
    with _pytest.raises(ValueError, match="requires column"):
        run_chain(pages, ["extract", "aggregate_fields"],
                  {"aggregate_fields": {"agg_x": ["nope"]}})
