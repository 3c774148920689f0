"""The benchmark's metric catalog: the names ``BENCHMARK.json`` lists,
with units and direction. ``run.py`` emits exactly these names; the
self-tests check that ``BENCHMARK.json`` agrees with this file."""

from __future__ import annotations

# Workloads listed in BENCHMARK.json. ``ingest_live`` and
# ``corpus_build`` stay runnable from run.py (and ``--all``) but are not
# listed there: see README.md.
LISTED_WORKLOADS = ("ingest_bulk", "dashboard")

PANELS = tuple(
    "q01_pricing_summary q02_tumbling_window q03_conditional_agg q04_pivot_linestatus "
    "q05_rate_normalization q06_agg_of_agg q07_dim_join q08_semi_join q09_three_way_join "
    "q10_predicates q11_distinct q12_orderby_multi q13_mod_latency q14_coalesce_duration "
    "q15_gap_spine q16_json_shred q17_latest_per_key q18_array_agg q19_mjd_bucket "
    "q20_topk_per_group q21_rollup_hierarchy q22_no_order_customers".split()
)

# name -> (unit, better)
END_TO_END = {
    "setup_s": ("s", "lower"),
    "peak_rss_mb": ("MB", "lower"),
    "op_p50_s": ("s", "lower"),
    "ops_per_s": ("1/s", "higher"),
}

PER_LAYER = {
    "session.get_spark.s": ("s", "lower"),
    "streaming.latestOffset_ms": ("ms", "lower"),
    "streaming.queryPlanning_ms": ("ms", "lower"),
    "streaming.walCommit_ms": ("ms", "lower"),
    "streaming.commitOffsets_ms": ("ms", "lower"),
    "streaming.addBatch_ms": ("ms", "lower"),
    "streaming.batches": ("count", "higher"),
    "streaming.pipeline.sink.s": ("s", "lower"),
    "sources.ntrip_live.connections_per_mountpoint": ("count", "lower"),
    "sources.ntrip_live.frames_missing": ("count", "lower"),
    "sources.ntrip_live.frames_duplicated": ("count", "lower"),
    "sources.framing.scan_frames.s": ("s", "lower"),
    "sources.framing.frames_rejected": ("count", "lower"),
    "sources.ntrip_client.ChunkedDecoder.feed.s": ("s", "lower"),
    "functions.crc24q.frame_crc_ok_batch.s": ("s", "lower"),
    "operators.rtcm_vec.decoded_record_batch.s": ("s", "lower"),
    "operators.rtcm_vec.frames_per_s_1core": ("1/s", "higher"),
    "operators.rtcm.decode_frames.s": ("s", "lower"),
    "operators.rtcm.observations.s": ("s", "lower"),
    "proc.cpu_util": ("ratio", "higher"),
    **{f"plans.{p}.{k}": (u, "lower")
       for p in PANELS for k, u in (("build_s", "s"), ("exec_s", "s"), ("exchanges", "count"))},
    "sources.corpus.split_corrupt.s": ("s", "lower"),
    "operators.profile.s": ("s", "lower"),
    "operators.curation.curation_funnel.s": ("s", "lower"),
    "operators.curation.drop_reasons.s": ("s", "lower"),
    "export.write_training_shards.s": ("s", "lower"),
}
