"""Tests for hyperplane-LSH candidates, the multimodal codec path and the
exact-substring verify."""

import numpy as np
import pytest
from pyspark.sql import functions as F


def _planted_vectors() -> np.ndarray:
    """40 random 16-dim vectors, then rows 40+i (i < 5): a tiny
    perturbation of row i."""
    rng = np.random.default_rng(42)
    base = rng.standard_normal((40, 16))
    copies = [base[i] + rng.standard_normal(16) * 0.01 for i in range(5)]
    return np.vstack([base, copies])


@pytest.fixture(scope="module")
def embeddings(spark):
    rows = [(i, [float(x) for x in v]) for i, v in enumerate(_planted_vectors())]
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>").cache()


@pytest.mark.parametrize(
    "n_tables,n_bits", [(48, 12), (96, 20)], ids=["48x12", "96x20"]
)
def test_lsh_candidate_pairs_cover_planted_pairs(embeddings, n_tables, n_bits):
    """At both production settings (multimodal 48 x 12, embedding_dup_pairs
    96 x 20) the candidates hold every brute-force pair at cosine >= 0.95,
    as ordered distinct pairs, with no crossJoin in the plan."""
    from webcrawler_spark.operators.similarity import lsh_candidate_pairs

    vecs = _planted_vectors()
    unit = vecs / np.linalg.norm(vecs, axis=1, keepdims=True)
    a_idx, b_idx = np.nonzero(np.triu(unit @ unit.T >= 0.95, k=1))
    truth = {(int(a), int(b)) for a, b in zip(a_idx, b_idx)}
    assert truth == {(i, 40 + i) for i in range(5)}

    cand = lsh_candidate_pairs(embeddings, n_tables=n_tables, n_bits=n_bits)
    rows = [(r["vec_id_a"], r["vec_id_b"]) for r in cand.collect()]
    assert len(rows) == len(set(rows))
    assert all(a < b for a, b in rows)
    assert truth <= set(rows)
    plan = cand._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan


def encode_ppm(w: int, h: int, seed: int = 0) -> bytes:
    """Deterministic binary-PPM fixture (valid P6, formula raster)."""
    raster = ((np.arange(w * h * 3, dtype=np.int64) * 31 + seed * 97) % 256)
    return f"P6\n{w} {h}\n255\n".encode() + raster.astype(np.uint8).tobytes()


def encode_wav(n_samples: int, seed: int = 0, rate: int = 8000) -> bytes:
    """Deterministic PCM-16 mono WAV fixture (valid RIFF, formula samples)."""
    s = ((np.arange(n_samples, dtype=np.int64) * (1234 + seed * 7)) % 65536
         - 32768).astype("<i2")
    data = s.tobytes()
    fmt = (
        (1).to_bytes(2, "little") + (1).to_bytes(2, "little")
        + rate.to_bytes(4, "little") + (rate * 2).to_bytes(4, "little")
        + (2).to_bytes(2, "little") + (16).to_bytes(2, "little")
    )
    chunks = b"WAVE" + b"fmt " + len(fmt).to_bytes(4, "little") + fmt \
        + b"data" + len(data).to_bytes(4, "little") + data
    return b"RIFF" + len(chunks).to_bytes(4, "little") + chunks


def test_multimodal_codec_unsupported_formats_raise(spark):
    from webcrawler_spark.operators.multimodal import _decode_payload

    with pytest.raises(NotImplementedError):  # PNG needs a real image lib
        _decode_payload("image", b"\x89PNG")
    with pytest.raises(NotImplementedError):  # mp3 is not RIFF/WAVE
        _decode_payload("audio", b"ID3\x04" + b"\x00" * 64)
    with pytest.raises(NotImplementedError):  # no video codec
        _decode_payload("video", encode_ppm(6, 4))


def test_multimodal_codec_decoders_bit_exact():
    from webcrawler_spark.operators.multimodal import _decode_payload

    ppm = encode_ppm(8, 6, seed=3)
    px = _decode_payload("image", ppm)
    assert px.dtype == np.uint8 and len(px) == 8 * 6 * 3
    # raster is the tail of the payload, byte-for-byte
    assert px.tobytes() == ppm[-8 * 6 * 3 :]

    wav = encode_wav(100, seed=2)
    samples = _decode_payload("audio", wav)
    assert samples.dtype == np.uint8 and len(samples) == 100
    raw = np.frombuffer(wav[-200:], "<i2").astype(np.int32)
    assert np.array_equal(samples, ((raw + 32768) >> 8).astype(np.uint8))

    # PPM comment headers parse too — including several, at any header gap
    commented = b"P6\n# fixture\n2 2\n255\n" + bytes(12)
    assert len(_decode_payload("image", commented)) == 12
    multi = b"P6\n# one\n# two\n2 # w\n# gap\n2\n# before maxval\n255\n" + bytes(12)
    assert len(_decode_payload("image", multi)) == 12


def test_multimodal_wav_truncation_and_channels_fail_loudly():
    """Damaged/unsupported WAVs must not decode into plausible features:
    a truncated data chunk raises (mirroring the PPM truncation check) and
    multi-channel PCM is a documented format boundary."""
    from webcrawler_spark.operators.multimodal import _decode_payload

    wav = encode_wav(100, seed=1)
    with pytest.raises(NotImplementedError, match="truncated RIFF chunk"):
        _decode_payload("audio", wav[:-10])  # short data chunk

    stereo = bytearray(encode_wav(100, seed=1))
    # fmt chunk body starts at offset 20; channels field is bytes 2:4 of it
    stereo[22:24] = (2).to_bytes(2, "little")
    with pytest.raises(NotImplementedError, match="channels=2"):
        _decode_payload("audio", bytes(stereo))


def test_substring_containment(spark):
    """gated_substring_edges over tier-1 rows (a, b, len_a, len_b): the
    length gate drops pairs with an empty side; a proper substring is found
    in either orientation; a non-substring is dropped. The equal-length
    gate has its own test in test_spark_pipeline."""
    from webcrawler_spark.operators.suffix import gated_substring_edges

    texts = {
        1: "alpha beta gamma delta epsilon zeta",
        3: "beta gamma delta",  # substring of 1
        4: "gamma beta",  # not a substring of 1
        5: "",  # empty
        6: "alpha beta gamma delta epsilon zeta eta",  # contains 1
    }
    docs = spark.createDataFrame(list(texts.items()), "doc_id long, text string")
    tier1 = spark.createDataFrame(
        [(1, b, len(texts[1]), len(texts[b])) for b in (3, 4, 5, 6)],
        "a long, b long, len_a long, len_b long",
    )
    got = {tuple(r) for r in gated_substring_edges(tier1, docs).collect()}
    assert got == {(1, 3, "substring"), (1, 6, "substring")}


def test_substring_edges_on_corpus(spark):
    """containment family docs are exact substrings — the anchor+substring
    path must find them."""
    from webcrawler_spark.operators.lsh import build_edges
    from webcrawler_spark.operators.signatures import compute_signatures
    from webcrawler_spark.operators.suffix import substring_edges
    from webcrawler_spark.sources.corpus import english_docs, generate_corpus

    corpus = generate_corpus(200, seed=42)
    docs = spark.createDataFrame(english_docs(corpus), "doc_id long, text string")
    sigs = compute_signatures(docs).cache()
    edges = {
        (r["a"], r["b"]) for r in substring_edges(sigs, docs).collect()
    }
    containment_truth = {
        (a, b) for a, b, fam in corpus.truth_pairs if fam == "containment"
    }
    assert containment_truth <= edges
    # exact dups are substrings of each other too; nothing else qualifies
    exact_truth = {(a, b) for a, b, fam in corpus.truth_pairs if fam == "exact"}
    assert edges <= containment_truth | exact_truth
    # the standalone query and build_edges' substring kind are one path
    batch = build_edges(sigs, docs=docs).filter(F.col("kind") == "substring")
    assert edges == {(r["a"], r["b"]) for r in batch.collect()}


def test_simhash_consistency_guards_tiny_and_near_dup_corpora(spark, tmp_path):
    """Engine and DuckDB oracle agree on degenerate contract tables (ADVICE
    r3): (a) ONE >=50-token base doc => copy/variant rows only, NO 'random'
    row on either side (previously the SQL emitted n_pairs = -1/0 rows the
    engine never produces); (b) near-identical docs at consecutive doc_ids
    are excluded from the 'random' family by the shingle-disjoint pairing,
    so they cannot spuriously fail the hamming > threshold property."""
    import duckdb

    from webcrawler_spark.plans.queries import (
        SQL_SIMHASH_CONSISTENCY,
        q_simhash_consistency,
    )

    def run_both(rows):
        sf = tmp_path / f"sf_{len(rows)}"
        spark.createDataFrame(rows, "doc_id long, text string").coalesce(
            1
        ).write.mode("overwrite").parquet(str(sf / "documents.parquet"))
        got = {
            r["kind"]: (r["n_pairs"], r["n_satisfied"])
            for r in q_simhash_consistency(spark, str(sf)).collect()
        }
        con = duckdb.connect()
        con.sql(
            "CREATE VIEW documents AS SELECT * FROM "
            f"parquet_scan('{sf}/documents.parquet/*.parquet')"
        )
        want = {
            k: (int(np_), int(ns))
            for k, np_, ns in con.sql(SQL_SIMHASH_CONSISTENCY).fetchall()
        }
        return got, want

    long_a = " ".join(f"alpha{i}" for i in range(60))
    # (a) single qualifying base doc: no consecutive pair => no random kind
    got, want = run_both([(1, long_a), (2, "too short")])
    assert got == want
    assert set(got) == {"copy", "variant"}
    assert got["copy"] == (1, 1) and got["variant"] == (1, 1)

    # (b) foreign corpus with a planted near-duplicate at the next doc_id:
    # texts share almost every shingle => the pair is NOT in 'random', and
    # a genuinely disjoint doc still is
    near_dup = long_a.replace("alpha59", "omega")  # differs in last token
    disjoint = " ".join(f"beta{i}" for i in range(60))
    got, want = run_both([(1, long_a), (2, near_dup), (3, disjoint)])
    assert got == want
    # consecutive pairs: (1,2) shares shingles -> excluded; (2,3) disjoint
    assert got["random"] == (1, 1)
    assert got["copy"] == (3, 3) and got["variant"] == (3, 3)


def test_image_dup_pairs_planted(spark):
    """image near-dup: the LSH+rescore path finds EXACTLY the planted
    perturbed copies (doc_id % IMG_COPY_MOD == 0 pairs with doc_id-1) and
    nothing else — md5 rasters give unrelated images cosine <= ~0.17."""
    from webcrawler_spark.operators.multimodal import (
        IMG_COPY_MOD,
        asset_dup_pairs,
        synth_image_corpus,
    )

    n = 120
    ids = spark.range(n).select(F.col("id").alias("doc_id"))
    assets = synth_image_corpus(spark, ids)
    got = {
        (r["asset_id_a"], r["asset_id_b"]): r["cosine"]
        for r in asset_dup_pairs(assets, "image").collect()
    }
    expect = {
        (d - 1, d)
        for d in range(1, n)
        if d % IMG_COPY_MOD == 0
    }
    assert set(got) == expect
    assert all(0.9 <= c <= 1.0 for c in got.values())


def test_image_profile_centered_exact(spark):
    """profile = n*x_i - sum(x) over DECODED raster bytes, exact int64."""
    from webcrawler_spark.operators.multimodal import (
        IMG_N,
        _image_nibbles,
        extract_features,
        synth_image_corpus,
    )

    ids = spark.range(3).select(F.col("id").alias("doc_id"))
    feats = {
        r["asset_id"]: r["profile"]
        for r in extract_features(synth_image_corpus(spark, ids)).collect()
    }
    for d in range(3):
        nib = _image_nibbles(d)
        want = (IMG_N * nib - nib.sum()).tolist()
        assert feats[d] == want


def test_audio_dup_pairs_planted(spark):
    """The audio twin: same planted scheme through the PCM-WAV decode
    branch; streams are modality-namespaced so image and audio features of
    the same doc never alias."""
    from webcrawler_spark.operators.multimodal import (
        IMG_COPY_MOD,
        _audio_nibbles,
        _image_nibbles,
        asset_dup_pairs,
        synth_audio_corpus,
    )

    assert _audio_nibbles(3).tolist() != _image_nibbles(3).tolist()
    n = 60
    ids = spark.range(n).select(F.col("id").alias("doc_id"))
    got = {
        (r["asset_id_a"], r["asset_id_b"])
        for r in asset_dup_pairs(synth_audio_corpus(spark, ids), "audio").collect()
    }
    assert got == {(d - 1, d) for d in range(1, n) if d % IMG_COPY_MOD == 0}
