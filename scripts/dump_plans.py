"""Dump physical plans (`explain formatted`) for the headline queries into
docs/PLANS.md — the plan-quality evidence: filter/column pushdown reaching
the parquet scan, broadcast joins on small dims, whole-stage codegen spans,
and the single slim-row shuffle in the clips pipeline.
"""

from __future__ import annotations

import io
import os
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from wallaby2caom2_spark.queries import ALL_QUERIES  # noqa: E402
from wallaby2caom2_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")

NAMES = (
    "clips_quality_filter",
    "pricing_summary",
    "revenue_per_nation",
    "rejected_anti_join",
    "dedup_minhash_signature",
    "similarity_topk_bruteforce",
    "doc_rule_cascade",
    "decontaminate_ngram",
    "sample_token_budget",
    "events_asof_join",
    "events_range_join",
    "kmeans_train",
    "doc_crossdoc_dedup",
    "orders_with_returns_semi",
    "small_quantity_revenue",
    "min_price_supplier",
    "ann_pq_topk",
    "events_interval_attribution",
    "audio_vad_stats",
    "value_deciles_by_type",
    "quality_rule_ablation",
    "split_train_valid_test",
    "audio_tonality_gate",
    "multimodal_pixel_stats",
    "multimodal_image_quality",
    "multimodal_image_resize",
    "multimodal_video_frames",
    "clips_curation_funnel",
    "audio_loudness_gate",
    "corpus_shuffle_order",
    "sample_epoch_upsampling",
    "quality_outlier_mad",
    "quality_psi_by_source",
    "text_gopher_rules",
    "audio_syllable_rate_gate",
    "transcript_compression_gate",
    "clips_token_budget_report",
    "audio_health_gate",
    "audio_transcode_migration",
    "clips_leakage_free_split",
    # session-4 additions
    "text_repetition_metrics",
    "sample_importance_dsir",
    "decontaminate_bloom",
    "audio_fad_diag",
    "embedding_top_pc",
    # session-5 additions
    "dedup_levenshtein_verify",
    "corpus_zipf_fit",
    "corpus_heaps_fit",
    "audio_gate_agreement",
    "audio_onset_stats",
    "audio_declip_report",
    "dedup_savings_report",
    "dedup_source_matrix",
    "dedup_lsh_recall_eval",
    "ann_ivf_recall_eval",
    "volume_shipping",
    "market_share",
)


def main() -> None:
    spark = get_spark("dump_plans")
    spark.sparkContext.setLogLevel("ERROR")
    out = ["# Physical plans (explain formatted)\n"]
    out.append(
        "Generated by scripts/dump_plans.py. What to look for:\n"
        "- `PushedFilters` / narrow `ReadSchema` on every parquet scan\n"
        "- `BroadcastHashJoin` for dim tables and probe sets\n"
        "- `WholeStageCodegen` spans around all rule-cascade expressions\n"
        "- clips pipeline: scan -> ONE `MapInPandas` (bytes die in the\n"
        "  worker) -> codegen cascade projections -> exactly ONE `Exchange`\n"
        "  of final slim rows, keyed by a deterministic xxhash64 salt\n"
    )
    for name in NAMES:
        df = ALL_QUERIES[name](spark, SF_DIR)
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        out.append(f"\n## {name}\n\n```\n{buf.getvalue().rstrip()}\n```\n")
    os.makedirs("docs", exist_ok=True)
    with open("docs/PLANS.md", "w") as fh:
        fh.write("\n".join(out))
    print("wrote docs/PLANS.md")
    spark.stop()


if __name__ == "__main__":
    main()
