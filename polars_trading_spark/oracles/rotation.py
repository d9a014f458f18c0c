"""Driver-gate rotation tables (pure data — no imports).

The driver's correctness harness verifies the FIRST 50 entries of
``queries()`` insertion order (rows + schema + value-hash vs the DuckDB
oracle at sf0.01).  ``ACTIVE_FRONT`` is the current round's window;
registry.py applies it after every domain module has registered.
tests/test_registry_order.py pins the resulting order against the
committed manifest AND asserts the never-gated-coverage invariant:
every registration without a CORRECTNESS_r*.json row must sit inside
the active window's first 50 — the one place a new query could
otherwise silently miss its driver gate.

History: rounds 1-12 each gated one window of 50 (never-checked
registrations first, then the stalest backfill); their lists are in
the git history of this file and their results in CORRECTNESS_r*.json.
"""

from __future__ import annotations

__all__ = ["ACTIVE_FRONT"]


# Round-13 rotation (ACTIVE), staleness recomputed from
# CORRECTNESS_r01-r12 (latest-round per query: 29 names last gated r8,
# 47 r9, 49 r10, 50 r11, 50 r12).  The ≤5-new cap holds (round-12
# verdict item 3/8): the 5 round-13 registrations (AVI metadata +
# stride-sampled MJPEG frame stats, the combined 12-bit/scan-subset
# JPEG gate, the VP8L predictor transform, cleaned-text exact
# substring dedup) + ALL 29 r8-stale names + the 16 alphabetically
# first r9-stale names.  After this round no query's latest gate is
# older than r9.
_ROUND13_FRONT = [
    # -- round-13 registrations, never driver-checked --
    "multimodal_avi_metadata",
    "multimodal_avi_frame_stats",
    "multimodal_jpeg_extended_decode",
    "multimodal_webp_predictor_decode",
    "dedup_exact_substring_clean",
    # -- backfill: every name whose latest driver row is round 8 --
    "feature_matrix", "hampel_filter", "heaps_law",
    "imbalance_bars_adaptive", "intraday_profile", "jump_test",
    "lang_mix", "lead_lag", "ledoit_wolf", "lexical_diversity",
    "lz_entropy", "ma_crossover", "macd", "mix_corpus", "momentum_rank",
    "obv", "pair_correlation", "pcm_features", "pii_scrub", "psi_drift",
    "range_bars", "rank_ic", "rank_portfolio", "retention",
    "robust_moments", "session_vwap", "stochastic", "term_burstiness",
    "url_domains",
    # -- backfill: latest driver row r9, alphabetical --
    "asof_join_backward", "asof_join_nearest", "bar_groups_split",
    "char_entropy", "chunk_documents", "cusum_filter", "daily_vol",
    "decontaminate", "dedup_exact", "dedup_minhash_lsh",
    "dedup_recall_curve", "dedup_survivor_budget", "deflated_sharpe",
    "dollar_bars", "dsir_weights", "embedding_drift",
]

ACTIVE_FRONT = _ROUND13_FRONT
