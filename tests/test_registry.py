"""Locks the query catalog to the driver's correctness-gate contract:
round 2 proved the driver records at most the first 50 emitted
entries, so the emitted gate must stay exactly at that cap while the
rotation cycles every retiree through it, and the catalog table must
agree with the ``@register`` declarations."""

from __future__ import annotations

import hashlib

import pytest

from clinical_data_warehouse_bi_spark import registry
from clinical_data_warehouse_bi_spark.registry import (
    CATALOG,
    ROTATION_SLOTS,
    _load,
    _REGISTRY,
    all_oracles,
    all_queries,
    benched_queries,
    names_with,
    registered_oracles,
    registered_queries,
    rotation_batch,
    rotation_donors_out,
    rotation_pool,
    rotation_round,
)

DRIVER_CORRECTNESS_CAP = 50


def test_registry_fits_driver_cap():
    assert len(all_queries()) <= DRIVER_CORRECTNESS_CAP


def test_catalog_rows_match_registrations():
    _load()
    assert {n for n, _ in CATALOG} == set(_REGISTRY)


@pytest.mark.parametrize(
    "catalog, extra, offender",
    [
        # a CATALOG row without an @register
        (CATALOG + [("q_ghost", "gate")], {}, "q_ghost"),
        # an @register without a CATALOG row
        (CATALOG, {"q_orphan": None}, "q_orphan"),
        # a donor without an oracle (q_ann_hnsw is rows-only)
        (
            [(n, r + " donor" if n == "q_ann_hnsw" else r) for n, r in CATALOG],
            {},
            "q_ann_hnsw",
        ),
        # a row that is both retired and gate
        (
            [(n, r + " retired" if n == "q_rollup" else r) for n, r in CATALOG],
            {},
            "q_rollup",
        ),
    ],
)
def test_load_rejects_inconsistent_catalog(monkeypatch, catalog, extra, offender):
    _load()
    monkeypatch.setattr(registry, "CATALOG", catalog)
    for name, oracle in extra.items():
        monkeypatch.setitem(
            _REGISTRY, name, registry.RegisteredQuery(name, lambda s, d: None, oracle)
        )
    with pytest.raises(ValueError, match=offender):
        _load()


# --- rotation contract (round-12 verdict item 1) ---------------------


def test_rotation_batch_under_gate_and_donors_out():
    names = set(all_queries())
    rotated = rotation_batch()
    donors = rotation_donors_out()
    assert len(rotated) == ROTATION_SLOTS
    # donors absorb gate growth past the cap (rotation in == 5,
    # out == 5 + overflow)
    assert len(donors) == ROTATION_SLOTS + max(
        0, len(registered_queries()) - DRIVER_CORRECTNESS_CAP
    )
    assert set(rotated) <= names
    assert not (set(donors) & names)


def test_rotation_donors_keep_full_oracle_coverage():
    """Every donated-out entry stays cross-engine checked in pytest:
    benched_queries() must expose exactly the donors, each with its
    oracle SQL (test_retired_parity runs the comparison)."""
    benched = benched_queries()
    assert set(benched) == set(rotation_donors_out())
    for fn, sql in benched.values():
        assert callable(fn) and isinstance(sql, str) and sql.strip()


def test_rotation_is_deterministic_and_advances(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_ROTATION_ROUND", "13")
    b13 = rotation_batch()
    d13 = rotation_donors_out()
    monkeypatch.setenv("SPARK_GRAFT_ROTATION_ROUND", "14")
    b14 = rotation_batch()
    d14 = rotation_donors_out()
    assert b13 != b14 and d13 != d14
    # full pool cycles: every pool entry appears within ceil(P/S) rounds
    pool = rotation_pool()
    seen = set()
    rounds = -(-len(pool) // ROTATION_SLOTS)
    for r in range(13, 13 + rounds):
        monkeypatch.setenv("SPARK_GRAFT_ROTATION_ROUND", str(r))
        seen.update(rotation_batch())
    assert seen == set(pool)


def test_rotation_round_tracks_driver_artifacts(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_ROTATION_ROUND", raising=False)
    import pathlib

    root = pathlib.Path(__file__).resolve().parent.parent
    n = len(list(root.glob("CORRECTNESS_r*.json")))
    expected = n + 1 if n else 13
    assert rotation_round() == expected


def test_rotation_pool_is_disjoint_from_registry_and_donors_stable():
    pool = set(rotation_pool())
    assert not (pool & set(registered_queries()))
    assert set(names_with("donor")) <= set(registered_queries())
    # donors must be full-oracle entries: a rows-only entry's gate
    # row is its only driver-side evidence
    for n in names_with("donor"):
        assert _REGISTRY[n].oracle is not None
    # the emitted gate stays exactly at the cap through rotation
    assert len(all_queries()) == DRIVER_CORRECTNESS_CAP


def test_oracles_subset_of_queries():
    assert set(all_oracles()) <= set(all_queries())


# --- driver-contract pins ---------------------------------------------
#
# Literals captured from the emitted surface before the query catalog
# became one table; any refactor of the registry must reproduce them
# exactly. Rounds 18-24 are one full rotation-pool cycle.


def _names(s: str) -> frozenset[str]:
    return frozenset(s.split())


REGISTERED_QUERIES = _names("""
q_ann_hnsw q_ann_ivf_pq q_ann_ivf_pq_served q_asof_next_order
q_attribution q_benford q_bm25_served q_bm25_topk q_boilerplate
q_bpe_encode q_cdc_chunk_dedup q_contamination q_corpus_clean
q_daily_census q_decontaminate_exact q_dedup_clusters q_dp_release
q_embed_near_dup q_epoch_shuffle q_expectations q_freshness_report
q_fuzzy_match q_hybrid_topk q_image_near_dup q_join_lookup_cast
q_join_normalized q_join_nullsafe_junk q_json_extract
q_lm_perplexity q_lsh_near_dup q_multi_source_union
q_multimodal_features q_orphan_cleanup q_outlier_report
q_pack_sequences q_percentiles q_pivot_report q_pricing_approx
q_pricing_summary q_qa_orphan_report q_quality_score
q_regex_numeric_parse q_repeat_upsample q_repetition_filter
q_rolling_aggregate q_rollup q_scd2_asof q_sessionize q_skew_report
q_snapshot_diff q_split_assign q_substring_dedup q_tfidf_keywords
q_token_budget q_top_ngrams q_vocabulary_divergence
q_weighted_sample
""")

ROWS_ONLY_REGISTERED = _names("""
q_ann_hnsw q_ann_ivf_pq q_ann_ivf_pq_served q_image_near_dup
q_multimodal_features q_pricing_approx
""")

#: round -> (rotated in, donated out), relative to REGISTERED_QUERIES
ROUND_DELTAS = {
    18: (
        _names("""
        q_grouped_percentiles q_quota_sample q_readmission_gap
        q_repeated_spans q_resample_fill
        """),
        _names("""
        q_attribution q_bm25_topk q_boilerplate q_cdc_chunk_dedup
        q_dedup_clusters q_expectations q_hybrid_topk
        q_lm_perplexity q_outlier_report q_pivot_report
        q_split_assign q_vocabulary_divergence
        """),
    ),
    19: (
        _names("""
        q_anti_new_dates q_calendar_dim q_scalar_lookup_default
        q_simhash_pairs q_stream_dedup_dual
        """),
        _names("""
        q_attribution q_benford q_bm25_topk q_dedup_clusters
        q_fuzzy_match q_hybrid_topk q_outlier_report
        q_pack_sequences q_repetition_filter q_scd2_asof
        q_split_assign q_vocabulary_divergence
        """),
    ),
    20: (
        _names("""
        q_ann_ivf_nprobe q_keyword_filter q_lang_id q_ngram_jaccard
        q_text_stats
        """),
        _names("""
        q_benford q_bm25_topk q_boilerplate q_cdc_chunk_dedup
        q_contamination q_dedup_clusters q_fuzzy_match
        q_lm_perplexity q_pack_sequences q_repetition_filter
        q_scd2_asof q_weighted_sample
        """),
    ),
    21: (
        _names("""
        q_dup_probe q_embed_quantize q_semi_valid_fact
        q_stratified_sample q_window_tumbling
        """),
        _names("""
        q_boilerplate q_cdc_chunk_dedup q_contamination
        q_expectations q_lm_perplexity q_outlier_report
        q_pivot_report q_repetition_filter q_scd2_asof
        q_split_assign q_vocabulary_divergence q_weighted_sample
        """),
    ),
    22: (
        _names("""
        q_chunk_dedup q_insert_if_absent q_qa_agg_consistency
        q_qa_rowcount_report q_surrogate_key
        """),
        _names("""
        q_attribution q_benford q_bm25_topk q_cdc_chunk_dedup
        q_dedup_clusters q_expectations q_hybrid_topk
        q_lm_perplexity q_outlier_report q_pivot_report
        q_split_assign q_vocabulary_divergence
        """),
    ),
    23: (
        _names("""
        q_agg_per_order q_frame_sample q_paragraph_dedup
        q_range_join q_sentinel_timestamps
        """),
        _names("""
        q_attribution q_benford q_bm25_topk q_contamination
        q_dedup_clusters q_fuzzy_match q_hybrid_topk
        q_outlier_report q_pack_sequences q_repetition_filter
        q_scd2_asof q_vocabulary_divergence
        """),
    ),
    24: (
        _names("""
        q_cohort_retention q_cosine_topk q_funnel_steps
        q_minhash_lsh_pairs q_scd2_dim
        """),
        _names("""
        q_benford q_bm25_topk q_boilerplate q_cdc_chunk_dedup
        q_contamination q_expectations q_fuzzy_match q_lm_perplexity
        q_pack_sequences q_repetition_filter q_scd2_asof
        q_weighted_sample
        """),
    ),
}

ORACLE_SHA256 = {
    "q_agg_per_order": "9159f26492a45e44037d900209dd89bf2bf0f017470a2db5e9dad7312553a5db",
    "q_ann_ivf_nprobe": "6ff0c088cf2a0c6b6263905f8e89143c5e069191770c84b9ddb8b7b7d75fbafa",
    "q_anti_new_dates": "7563f80c44a1f8463eb51efdbdb25b7de6a0097819efadb517879836fe51c306",
    "q_asof_next_order": "ef0f954f7191697c2ddf817256f4a2de8d19f9d0582af62e6b3cecd13aea6cb6",
    "q_attribution": "a654594aab4eaebb7a30a1e2c9a9f0b718c9784d92de08794cc7edb67bb6cec2",
    "q_benford": "aaa4ce4b83b7818f832f575718e207c8d8f24e2c3d8812dd754d139d97c58484",
    "q_bm25_served": "1f3384ed1bdacb928ec32fbd3774d2175168749b210a8c492feedc2b9dd9e58e",
    "q_bm25_topk": "1f3384ed1bdacb928ec32fbd3774d2175168749b210a8c492feedc2b9dd9e58e",
    "q_boilerplate": "0d276eaeadad4b326ff2592f99e23d719b03215e7f668358596bd9b55328571a",
    "q_bpe_encode": "1b984516d510951a737a248f080947322eb5374a0df263fc6341d1fb9ac927f3",
    "q_calendar_dim": "5d80c2ab36351c0fabbf40fa76f9eff9cafc30c5288e33ed5bdfc042ebda43c5",
    "q_cdc_chunk_dedup": "bed4938d2943389797ce98101fbb37af9fe64047c342931673e79098de6f792d",
    "q_chunk_dedup": "92814a2e58adb5eadaf69a621fb8e7095eb41dbbd2bca406511cf2fc6a3de32f",
    "q_cohort_retention": "a0e5505c31868cd96f55bffdee9294d5d886896d7b7b30f6e6a23c677b8396ad",
    "q_contamination": "4ceb8d01b3c6dbe428cf4ac19eedb1a62c73b7b60d743b0e2f4e291ed25bb0f7",
    "q_corpus_clean": "96787a01ae60debcbb684fa7efb0fbfb98d4b7919732a209579e82ee15a2e0d5",
    "q_cosine_topk": "df9c7a26539691d6deb6ac80ccb85c58cbf4c7cb8515e27d0a0c720d7a26a629",
    "q_daily_census": "467a59b390af6bb946ae629e94ed501d799d5189d7e24e3ef7e9c81fc7c624dc",
    "q_decontaminate_exact": "60468627c2ed4592d7786a082c98df5faae3f27bcff90c9c1be4913047441ee3",
    "q_dedup_clusters": "189efd32abc4f3c370b7d7b3519c30267a1bf5273d2f87d38fd2c941912358ce",
    "q_dp_release": "8343d376ba4a5da8c2c3082929fb5a4d75bb7c37b8823305fa450f3ef3c8b488",
    "q_dup_probe": "2b03dd7ca6eac7f681435b873cbed2aa12f0e56bd350cd5248d38cd1ac220696",
    "q_embed_near_dup": "7739d243f15faffa5733456ec9f380f7064a8144a8154121d4ae27cb736da148",
    "q_embed_quantize": "5e947e03b4936c2344efe729d832478950f08abec15d2986b8b7af0c2239878a",
    "q_epoch_shuffle": "8c16789a749c78ee6e6922cba5d06349fe3097df6c3a9f571536b9e1082ace64",
    "q_expectations": "2a4ce088d0bbd1cf922d62a7857723ebaf5c23e1a8e079b3fe724ac50379ecdc",
    "q_frame_sample": "4b17f335164c13137f736fee904f9b39ba7275f62ceb9e05532ff1c7105092d6",
    "q_freshness_report": "b58ea4fd284e489159dd87a7a0f7fa276711c1fe6d51ca56d9c5b48258697fcc",
    "q_funnel_steps": "57c8f3c874ea1da06d02640b6c71b8024506933da2a90ac2dcf8c4df0341213d",
    "q_fuzzy_match": "68a1f7b473b5a9693e338ab9089aa563af184f7502353691f64a538d970c6da4",
    "q_grouped_percentiles": "015ccd35329b1956c58bc6c21b5136af1f261f3db020693951eaa98fce266475",
    "q_hybrid_topk": "e89dca6fbab75faca364f9c891e1150e4f6b968d4db3bb0437b42935e013e2cd",
    "q_insert_if_absent": "05a38d62e8244d7b8e814217d5a2386a521db4f56911cd32f256827931ffc324",
    "q_join_lookup_cast": "28d03959126822d1aca74dddc3f79b6c0600bbcee91e6f21f6715e1b10d01391",
    "q_join_normalized": "d9ee9b5483f107abdd7760935e05c8d8cb87c69b5ee5eda4c34fbf33bd8d435f",
    "q_join_nullsafe_junk": "6fff7d3d2be5441755a99c6a8c61da62f90866362696675973e9cb6b3e7f977f",
    "q_json_extract": "e64b3e0a7ba147f466bdb58b0d4f5b0f0d8678a8c1fda90d48f5b3167e89273e",
    "q_keyword_filter": "b8fcace0fe9286296263b3f45c9cd3e1112c08e580332cf8a0daf6446b331730",
    "q_lang_id": "891ab202dd962503f66523902953cfa3a19a987367644785898197cddd4f6770",
    "q_lm_perplexity": "e4343f7883f01df15f7289ad184d369428c4e69b6133ae53f5784ecd6586e711",
    "q_lsh_near_dup": "7b1ec0512eb9d0907062cb78cfb05e5cd88b0d3757875286a2cceac1e87a8ef4",
    "q_minhash_lsh_pairs": "1ffed8ad9e626af2e7d1a7f7eb1b2521d3dd123ce5200a237edd6f71a7ebb947",
    "q_multi_source_union": "c01ec17e85ab1a6225086cbc870a8c63e19bbd548b14f5a4dabbc0f6a505659c",
    "q_ngram_jaccard": "83888ebbd827a69477b5c2eb210e3bfce3230ecca0703f9fd562d59065da7be0",
    "q_orphan_cleanup": "f9bd2c494dd6f0de8f600138947ffa6544bf04f7a8c801641e74a0bcec9b7b97",
    "q_outlier_report": "7c4c9483849fef9d1899fa29822db35470d4352e48a895ef722297054a5f52ec",
    "q_pack_sequences": "d7ce16fa82bf36c7dce3794907e9d2ec15f14e7178a4f6c5bfd13a7276bbea8f",
    "q_paragraph_dedup": "59acf3d82067748049346fe0f592cb935facaa3923fe590269b36a8ec69ec19a",
    "q_percentiles": "caec149879fb3feeee2b730089ecfbd3657ce96ee3a10846a3a5878d740632e9",
    "q_pivot_report": "2ae992c857c6ae3953830bd243a714936717611992524ab6e36c8edb2e149c30",
    "q_pricing_summary": "208cbb042d3e21ad720e8623bad75b8188f1c9eb60d522271699c367b1ab1281",
    "q_qa_agg_consistency": "ed029b94dbf30f6627b25a6951ed67f8f361168612f902c9e9ab69a282be7b74",
    "q_qa_orphan_report": "73c369ca3ad9d449cbae4fffb73ba6e6b7ef543ac34dd7de6a95a13e55ba94fe",
    "q_qa_rowcount_report": "1c2ac5b156e95ed6b8b68e0a249f2326e9001f28fccb54c849db990401906ed1",
    "q_quality_score": "f31376e4f9bcc4b8856ad034ec0bd560c5e465714c1d6fbd077c2f73681b8ccd",
    "q_quota_sample": "85f06b47185b74446a8a2f62389ccd7e320a92964bd1617af0ef5eac1a338925",
    "q_range_join": "53dfe7cbea90d79bdeed2d1abab9adb72549317f27dcf299ead81ea5088b3509",
    "q_readmission_gap": "29d1a7c95220336ce88711cbc8733fc4d97effc1169f7fba07ff0d80aa4a5473",
    "q_regex_numeric_parse": "1e6a4743167bdc7e41f3f5441f1b6db88dc2d4bd9e7f0f449e0a985a94495d02",
    "q_repeat_upsample": "cbcc4a0ebb07c5180df5177f643ff8aa3fa0920c26d66616d8745a5b373bb32d",
    "q_repeated_spans": "93a7678cf0ba1510059ec1d9e7a096c9731281a25c13533264628086f008f125",
    "q_repetition_filter": "35ed64bc3422f0102363ceaba01223f305d6dab3db47fbad51d552ae0ced06fc",
    "q_resample_fill": "ee47677fdcc7fa20db6bab004183b857202f7775ad38da4e797a380f092fe8f4",
    "q_rolling_aggregate": "1ccff30f09a76057a1a46dcefa73474639bd67a283c2959dff899dc41c42b715",
    "q_rollup": "6df757959726f0d1234782c09b0af22f25a4bd768bd5d2cca92251bcaa606614",
    "q_scalar_lookup_default": "2dadbe4d4cda5e2fca3a73fefdf1239dd67a0c470cdd55eaadc8d1c2b1c4e25d",
    "q_scd2_asof": "173fc7f9559ea585137a08f94e525fea01df71e1d860450694c94123a7215f18",
    "q_scd2_dim": "6364766c8555e512aa1a9ccb9d199e525c35e7572e7995834e3147aeff6ef42f",
    "q_semi_valid_fact": "2bf4536182188d91420cff4aa9e9f1608c2ec7c01a3d0b4d7d781160c3cb958b",
    "q_sentinel_timestamps": "21b1b99479aa0bc6ed11a5740c3a47ac5169b10ded4177cc7f6af78d9ef1d65b",
    "q_sessionize": "5f12d02e2461a9a4448b9742f29e85c179ea21330560539ec3e23623696cd374",
    "q_simhash_pairs": "a6c0a0df43207a9e2d15afb059428690d48c6fe80d97f2c09517869918945f01",
    "q_skew_report": "a461abe98dec2451c8f92e2fbd07c0a76edd02d6c6ec3285a543b3c5f1e348d9",
    "q_snapshot_diff": "5911d9266522f11bc27baf28cdd86f85553002573e785793f48c8941f06bb1e6",
    "q_split_assign": "cd6e7b6cb7a361c2dca817f804146753e19daf284b0001d148e1484ccc8e70ed",
    "q_stratified_sample": "5a488a7b497646f5f36810644b3b0af77afa09da10e671c4dfc8d77cc1c145ac",
    "q_stream_dedup_dual": "3cb9141159d17d591cb1e0d07411c461811610cf1af5c136f9ccc4dd23ecb0aa",
    "q_substring_dedup": "95c6e632d6af2730c033c0ddf0e8a6994a3fc9ddc468701a498df8d10bb5f1be",
    "q_surrogate_key": "a4dc3bfcb6520b89474e4192d00e6299e3707ac51f253176d9b3187100789970",
    "q_text_stats": "a7c95ace8cf98a914c916b42ccc8bab7afc17ccfce4c8788ecc5aa37f105daa2",
    "q_tfidf_keywords": "5c8ee6b40c51f50677ce9831b2f56f8748f86a5e6820a92b45a130448dc95d8a",
    "q_token_budget": "6484411eccb2ad8dbb779446ecfc44ccb45b280da2e3d7199a53b2ae5d536a9c",
    "q_top_ngrams": "f9e5c4606534a5feada1c1a419ac35f1c90b6813cc1a18fdc405b441d2d15a98",
    "q_vocabulary_divergence": "a60b9a0e869d1c9e58ff8358072686643f918db96f624832308eb6ee76eccb7d",
    "q_weighted_sample": "97832337574e6e9714a09dc7aadacb452c63bcc17e9d436a58c319b46bf6bba7",
    "q_window_tumbling": "1750601e16a9bf54f441a72a8b34837f39050fc211a0ff1b7346cc7101035961",
}

BENCH_NAMES = _names("""
q_agg_per_order q_ann_hnsw q_ann_hnsw_routed q_ann_ivf_learned
q_ann_ivf_pq q_ann_ivf_pq_served q_anti_new_dates q_approx_stats
q_asof_next_order q_attribution q_benford q_bm25_served q_bm25_topk
q_boilerplate q_bpe_encode q_calendar_dim q_cdc_chunk_dedup
q_cohort_retention q_contamination q_corpus_clean q_cosine_topk
q_daily_census q_decontaminate_exact q_dedup_clusters q_dp_release
q_embed_near_dup q_epoch_shuffle q_expectations q_frame_sample
q_freshness_report q_funnel_steps q_fuzzy_match
q_grouped_percentiles q_hybrid_topk q_join_lookup_cast
q_join_nullsafe_junk q_json_extract q_lm_perplexity q_lsh_near_dup
q_minhash_lsh_pairs q_multi_source_union q_multimodal_features
q_orphan_cleanup q_outlier_report q_pack_sequences q_paragraph_dedup
q_percentiles q_pivot_report q_pricing_approx q_pricing_summary
q_qa_orphan_report q_quality_score q_quota_sample q_range_join
q_readmission_gap q_repeat_upsample q_repeated_spans
q_repetition_filter q_resample_fill q_rolling_aggregate q_rollup
q_scd2_asof q_scd2_dim q_sessionize q_simhash_pairs q_skew_report
q_snapshot_diff q_split_assign q_stream_dedup_dual q_substring_dedup
q_tfidf_keywords q_token_budget q_top_ngrams q_vocabulary_divergence
q_weighted_sample
""")


def _sha256(sql: str) -> str:
    return hashlib.sha256(sql.encode()).hexdigest()


@pytest.mark.parametrize("round_", sorted(ROUND_DELTAS))
def test_emitted_surface_is_pinned(monkeypatch, round_):
    monkeypatch.setenv("SPARK_GRAFT_ROTATION_ROUND", str(round_))
    rotated_in, donated_out = ROUND_DELTAS[round_]
    names = set(all_queries())
    assert len(all_queries()) == DRIVER_CORRECTNESS_CAP
    assert names == (REGISTERED_QUERIES - donated_out) | rotated_in
    assert {n: _sha256(sql) for n, sql in all_oracles().items()} == {
        n: ORACLE_SHA256[n] for n in names if n in ORACLE_SHA256
    }


def test_registered_surface_is_pinned():
    assert set(registered_queries()) == REGISTERED_QUERIES
    assert set(registered_oracles()) == REGISTERED_QUERIES - ROWS_ONLY_REGISTERED


def test_bench_set_is_pinned():
    assert len(names_with("bench")) == len(BENCH_NAMES) == 75
    assert set(names_with("bench")) == BENCH_NAMES
