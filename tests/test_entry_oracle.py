"""Driver-contract mimic: every ``queries()`` entry with an ``oracle_sql()``
twin must match DuckDB row-for-row (order-insensitive, columns aligned by
name) at sf0.001 — the same comparison the driver runs at sf0.01."""

from __future__ import annotations

import datetime
import hashlib
import math

import pandas as pd
import pytest

import __spark_entry__ as entry_mod
from tests.conftest import SF_DIR


def _norm_cell(v) -> str:
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return "<null>"
    if isinstance(v, float):
        return f"{v:.4f}"
    if isinstance(v, bool):
        return str(bool(v)).lower()
    if isinstance(v, (pd.Timestamp, datetime.datetime)):
        return pd.Timestamp(v).isoformat()
    if isinstance(v, datetime.date):
        return v.isoformat()
    return str(v)


def _normalize(df: pd.DataFrame) -> list[tuple]:
    cols = sorted(df.columns)
    df = df[cols]
    rows = [tuple(_norm_cell(v) for v in row) for row in df.itertuples(index=False)]
    return sorted(rows)


QUERIES = entry_mod.queries()
ORACLES = entry_mod.oracle_sql()


def test_oracle_keys_subset_of_queries():
    # every query has a DuckDB twin: one added without an oracle fails here
    assert set(ORACLES) == set(QUERIES)


@pytest.mark.parametrize("name", sorted(ORACLES))
def test_query_matches_oracle(spark, duck, name):
    sdf = QUERIES[name](spark, SF_DIR).toPandas()
    odf = duck.execute(ORACLES[name]).fetchdf()
    assert sorted(sdf.columns) == sorted(odf.columns), (
        f"column mismatch: spark={sorted(sdf.columns)} oracle={sorted(odf.columns)}"
    )
    s_rows, o_rows = _normalize(sdf), _normalize(odf)
    assert len(s_rows) == len(o_rows), f"{name}: {len(s_rows)} vs {len(o_rows)} rows"
    mismatches = [i for i, (a, b) in enumerate(zip(s_rows, o_rows)) if a != b]
    assert not mismatches, (
        f"{name}: first mismatch at {mismatches[0]}:\n"
        f" spark:  {s_rows[mismatches[0]]}\n"
        f" oracle: {o_rows[mismatches[0]]}"
    )


def test_entry_smoke(spark):
    df = entry_mod.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert set(df.columns) == {"sink", "role_group", "ts_day", "n"}


# sha256 of every oracle_sql() string; a refactor of the SQL builders must
# leave each statement byte-identical (regenerate only on a deliberate oracle
# change, and say which key moved and why)
FROZEN_ORACLE_SHA256 = {
    "agg_salted": "665ae18d093734e9f5e5ab96057911e5426cfdf5daebefab99b1fa01dc473bf5",
    "agg_sink_day_bucket": "665ae18d093734e9f5e5ab96057911e5426cfdf5daebefab99b1fa01dc473bf5",
    "alb_json_lines": "2bdfcbece044ad4bf0299235dea271e6ca64c3109728626af1fbdcb5464e2e5b",
    "ann_cosine_topk": "1e817d9d77b4ae2b7606de5cfe0f6fce2c9abc6621ea914c0c5e9e0e650d5891",
    "ann_ivf_recall": "5a7c5457946cc5c563c5122b3f3064f541f21664f5025d4e400a77b5642f4f04",
    "ann_ivf_topk": "328bcf64cb1cf1a7754b6001ad91bd5a070c85683f185a7695107c91db1533a8",
    "classic_json_lines": "bff35b2c75551af373634fcf7c55cd2a16b8abc897abeb03b4ba654f64f044dc",
    "contamination_check": "e6867a38907df51aed4f9bd32016c05b9f9c06a260b857dfdf2938a19d958d1b",
    "conversation_assembly": "cc6b74896b57cea7904b683d5ad8e7ada1f3321a6be03832f132d9ad26c116bb",
    "conversation_sessions_batch": "646cb438f42537fd885961c042c51476b20731c25e20cf5960a07a50a54fe3d9",
    "corpus_sequences": "08fb348a2264823bb399211b03c7a383f06d5b7d47675d3bf5d4c2e6e8e0e06a",
    "curriculum_bins": "84f874cb1e86427f68e3b0064747dcb01634e3d4a8e8a615958f856a0714b79f",
    "dead_letter_diag": "e9d41e5a6dd381e7936d3fb5f39acc45f81bd8ed4ddba5048c2b73c906b41f6a",
    "dead_letter_rows": "177e0d9958d288011d0cf7d418acdb93e20e2bc613d10b86b5d9f84f7f52d5af",
    "dedup_exact": "1c5d1c2fd4080dceb0074c5bf37e461bd6e6a2026653e261836ab7db2fd25e8d",
    "dedup_incremental": "e5a346e60a2fa15b9a81916c050536916ab74fbb4f0fcd8b004d304efc215b68",
    "doc_fingerprint": "50a1add4c68aa3eb3e0e96e8fbacbb4098158def225d3579430ec41cf572492b",
    "doc_quality": "aafb6894421a924c5d635dcae468b756234bbbbcca1e95d82ca6ee99a2cadc95",
    "embedding_near_dup": "a9e87a7ef7926c1c5cd7c150f81416051d959651ff6984b110015cb4031bc4b2",
    "enrich_rollup": "048f82499d266e08b33630f42e563d1a4accb75409a5148d52664ef1ecdcb7c9",
    "event_types_except": "750d29e226c9054927f7d515c2862d9ff07a26b2343d19e0ccef882754273c22",
    "file_corpus_route_counts": "cf837ab96d50f6ee0e707a91658baa379eec02a3d68565cbfba67e85c4f9ef2c",
    "jaccard_prefix_pairs": "3f01355f462ab21b36f2d0b6e1d49912fca71110791e5c0b62b6eb1f6e70378e",
    "jaccard_rare_pairs": "a56661bb68dabe26b3510b4a4790dbac7730385ac616e4978dcf070a70ad2de9",
    "lang_distribution": "182219820f99dd1825d95ba9ac530c5b43fd9f988f6312d2e03ca248edaf260d",
    "lang_quota": "408d1b614fd3cab2fcdca2bb0ba1691dfed8d2f68aaf78e026832b930237488d",
    "lang_stopword_score": "d58e3095d4799b8d68bf37e5b6fce97542ddc54e51ac87dc0fcd387583f5f179",
    "latency_percentiles": "1fb50e79c387ede74b80654f75530ebdc2247323fc3b6eba52f7f37fd0f576e1",
    "leakproof_split": "a99df64da0146d1f0bfb2eb67735005d1493fa1628474313c387e6eb62f5609f",
    "media_features": "befc278957f85d47e18830ea740d41dae4b7b558f3c651e5f7f1c99746d88c4e",
    "media_frame_sample": "53f98067fd3fdb31253301368ae7f1fe255d4b1472d83ce53bb7284ae2fcabe5",
    "media_inventory": "cac5d06a9663e405c5313db4f04d57e450b96dc50451eb5682454b929ddba141",
    "media_resize_plan": "f7bec6ec99db9a3881b52d78e8147148f478eee3112712d3da64ca3c46783e40",
    "minhash_dup_groups": "c202e6d8c7ac7b5b4350f7db5988075e2e190a4092e25e1264f6ab0149d7961b",
    "minhash_lsh_groups": "dc8ff750b1bf4a5a2af3cb8592dc2773874fca71dc5f552222687d7758cfa25e",
    "minhash_lsh_pairs": "82763fb4d2ab9b5fe7947bf0be6054f2f850256798daa0a30b0b56f13b9e558d",
    "minhash_signatures": "030647c3f09525ad78e1982c2964470e11421f5032fd61c7363b0a484c46264c",
    "ndjson_ordered_lines": "97787f0ee0def6f72be24362a8d47b6c64bce4dbfe5971c63c9b4309badca522",
    "ndjson_sharded_lines": "693df5376b3bc063d442af1e833815c7e55107db35f0eabb694b413485c23cac",
    "ngram_profile": "5ad636e3f418e0c7b294fe2a02894d6ad069564915d28672e21e1f0f3acd51e7",
    "orders_customer_join": "17207cec68201dae538124b5a17325c1d7c412953b79a748e6f3c924fb617f0c",
    "parse_alb_fields": "c30d3c320dfe257554025f45604e2a8739957b30441030e3b7b0c739d25a72e8",
    "parse_classic_fields": "ca5e751abf6da6f14d5dc24a141d9d7b13e7c24bfb8b7daae926c66559c557f4",
    "parse_route_counts": "880d11f1efc3ac43dc405637dd9df8a62bd85bfd57e6ca1a2a97abfabd38f611",
    "pii_scrub": "cc68f346f870b24cc3c30cf381613e58778e6e79df47725f840211e3c3299325",
    "repetition_scores": "3a4a7806864f02fcf105efe659772e868a279afbc2aab19e313bc07f11c0ffe5",
    "route_sets": "8ad53df3acff60dfa11f1b02c0f134df4f9a0e784dbafdfe6ee0f744195df064",
    "sequence_pack": "8c7b07e4ab6dfd0348daf6caaf200d78dd58e1d61594f564503f8952b395f492",
    "simhash16": "83c8f91cdcb84fb1f44b5574671c6b01b0d7463669a0a10769aede4c2bd4f8e8",
    "simhash_near_dup": "89621b80bbe5989c99c04a1a04fa975df2e0d35ebd9347639a30e49bc1f2786b",
    "source_mixture": "517ba4b24ad7caf65d0ebc9575109e6d32632cd8278e1b5d9b72b8a720e1db9f",
    "stratified_sample": "d87fab0f1dccad54ade9e97d8ad45d0e5a0399460a60217a79f36b96bef2db8e",
    "streaming_dedup": "41bfbf92aaa7a6f34f16b404feb91c7bd1b9d8c4c5058f13e32d37ad2629f87f",
    "text_normalize": "2e247dc64a124a3d0eab6ee7648a458d3a980e9a366c168ac5b3b188d368dc04",
    "token_count_bpe": "b24fa3c81d0c5919b642d5380a7cbd49ac604056d775a56a9f44085069c1b9e7",
    "top_events_per_user": "f7eb058c6f963ba5848900db479dad63079d4cbb59370d9a8117ebb1dbafe1a0",
    "tpch_q1": "d2c51530b6e58abaf1a4d09601f5b821607d7f3dded35fd55d0547814bb525f4",
    "training_corpus": "52cb0f773028febb9c686c4391c822004e5232aa234939d594536d4845475844",
    "transcripts_build": "36e2e87ecb5235a0a56d6ff2864995e10c48773d9c27e5ef0a7e592f6dbe5dd8",
    "turn_order_check": "625efb273615f111860d5523d3cb96a50d14beae3bc97c16dfa89b05c731300d",
    "unigram_logfreq": "01bd64a9ad86b397f896da0eb016667375a9c83a499d913d4b2495ca2b3ec990",
    "url_domain_topk": "765b43dd9221727714d270de65bde917df92f5af7c35a89af03c6e771c7cafd8",
    "vocab_topk": "b8435ad6531e2b5733d34597aace67c1c151e1131bf12fa6808cc7a4302c78a5",
}


def test_oracle_sql_strings_are_frozen():
    got = {k: hashlib.sha256(v.encode()).hexdigest() for k, v in ORACLES.items()}
    changed = sorted(k for k in got.keys() & FROZEN_ORACLE_SHA256.keys()
                     if got[k] != FROZEN_ORACLE_SHA256[k])
    assert not changed, f"oracle_sql() strings changed: {changed}"
    assert got.keys() == FROZEN_ORACLE_SHA256.keys()
