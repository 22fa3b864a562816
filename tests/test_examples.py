"""The migration guide in ``examples/`` runs end to end against the
package, so a renamed argument or operator breaks a test instead of the
example alone."""

from __future__ import annotations

from conftest import SF_DIR


def test_qdrant_migration_runs(spark, monkeypatch):
    from pyspark.sql import SparkSession

    from examples.qdrant_migration import run

    # run() stops its session at the end; here that session is the
    # suite's shared one
    monkeypatch.setattr(SparkSession, "stop", lambda self: None)
    out = run(SF_DIR, cpus=4)
    assert set(out) == {
        "after_upsert", "search_top1", "universal_top1", "groups",
        "recommend_top1", "auto_search_rows", "scroll_ids",
        "retrieve_cols", "count_filtered", "facet", "exact_top1",
        "stemmed_de_hits", "f16_top1", "strict_mode", "rrf_rows",
        "search_groups_rows", "client_query_points", "client_count",
        "client_facet", "client_scroll_ids", "quant_ensure",
        "quantized_top1", "bq_asym_top1",
    }
    assert out["strict_mode"] == "rejected over-limit request"
