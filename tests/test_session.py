"""The session's generated-code cache holds a repeated pass: once warm, a
round of the olap_ingest registry ops plus a ledger ingest (more classes
than Spark's default cache of 100 holds) compiles no class again."""

from commerce_data_pipeline_spark.catalog import load_table
from commerce_data_pipeline_spark.measure import codegen_compiles, materialize
from commerce_data_pipeline_spark.queries import REGISTRY
from commerce_data_pipeline_spark.sources.ledger import FingerprintLedger

OLAP_OPS = (
    "funnel", "sessionization", "journey_transitions", "pricing_summary",
    "market_share", "rfm_segments", "sketch_accuracy",
)


def test_warm_round_compiles_nothing(spark, sf_dir, tmp_path):
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")

    def one_round(i: int) -> None:
        for name in OLAP_OPS:
            materialize(REGISTRY[name].spark(spark, sf_dir))
        FingerprintLedger(spark, str(tmp_path / f"ledger{i}")).ingest(docs)

    # twice: market_share still compiles a few classes on its second run
    one_round(0)
    one_round(1)
    before, _ = codegen_compiles(spark)
    one_round(2)
    assert codegen_compiles(spark)[0] - before == 0
