"""The benchmark's workloads: each is one ``dbt run`` over a fixed set
of declared models (``__spark_entry__.queries()`` names).

A workload keeps every model family it is named for, trimmed to a pass
of a few seconds so a run fits its time budget. ``nominal_pass_s`` is
the pass time measured on a shared 4-core host when the workload was
defined; it fixes how many passes a run of ``--seconds`` makes
(``measure.pass_count``), so two commits measured with the same
benchmark always do the same work.
"""

from __future__ import annotations

from dataclasses import dataclass

@dataclass(frozen=True)
class Workload:
    name: str
    why: str
    sf: float
    nominal_pass_s: float
    models: tuple[str, ...]


WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            "analytics_read",
            "read-only scan/join/agg models at sf1: time is in the final action,"
            " no txnlog or operator calls",
            1.0, 5.0,
            (
                "tpch_q6_forecast_revenue",
                "tpch_q12_lateness_priority",
                "tpch_q14_promo_revenue",
                "tpch_q19_disjunctive_filter",
                "events_tumbling_hourly",
            ),
        ),
        Workload(
            "elt_write",
            "incremental, MERGE/txn, SQL DML, MV and snapshot writes plus a"
            " transactional stream: time is in the build phase (driver, py4j,"
            " eager Spark jobs)",
            0.01, 8.8,
            (
                "incr_merge_orders",
                "txn_schema_evolution",
                "sql_type_literals",
                "mv_rewrite_join_alias",
                "scd2_snapshot_orders",
                "stream_txn_upsert",
            ),
        ),
        Workload(
            "vector_curation",
            "ANN, dedup, embedding and DSIR operators: IVF/k-means eager jobs"
            " and Arrow/pandas UDF workers that elt_write bypasses",
            0.01, 7.5,
            (
                "ann_ivf_topk",
                "dedup_minhash_lsh",
                "dedup_exact_documents",
                "emb_quantize_int8",
                "dsir_profile_counts",
            ),
        ),
    )
}
