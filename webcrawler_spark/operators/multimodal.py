"""Multimodal near-dup detection: image and audio assets as binary payloads.

One path, run by the ``multimodal_dup_pairs`` (image) and
``multimodal_audio_dup_pairs`` (audio) queries: decode each payload with a
pure-numpy codec, take its centered sample profile, generate candidates
with hyperplane-LSH (``similarity.lsh_candidate_pairs``) and exact-rescore
them with int64 dot products (``asset_dup_pairs``).

The codecs cover the containers parseable without external libraries:
binary PPM (P6) images and mono PCM WAV (8/16-bit) audio. Anything else,
including a truncated or malformed payload, raises ``NotImplementedError``
(JPEG/MP3 need PIL/soundfile, which are not dependencies). Richer codecs
change ``_decode_payload`` only.

Assets table schema:
  asset_id:long, kind:string ('image'|'audio'), payload:binary,
  meta:map<string,string>
"""

from __future__ import annotations

import re
from collections.abc import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

ASSET_SCHEMA = T.StructType(
    [
        T.StructField("asset_id", T.LongType()),
        T.StructField("kind", T.StringType()),
        T.StructField("payload", T.BinaryType()),
        T.StructField("meta", T.MapType(T.StringType(), T.StringType())),
    ]
)

PROFILE_SCHEMA = T.StructType(
    [
        T.StructField("asset_id", T.LongType()),
        T.StructField("profile", T.ArrayType(T.LongType())),
    ]
)

# asset_dup_pairs: cosine threshold (the oracle SQL states the same 0.9)
# and the LSH tables x bits; at 0.9 a qualifying pair is missed by all 48
# tables with p < ~3e-4 at the boundary and < 1e-9 for the planted-copy
# regime (cosine >= ~0.97)
DUP_THRESHOLD = 0.9
LSH_TABLES = 48
LSH_BITS = 12

# comments ('#...' to end-of-line) may appear, repeatedly, at any header gap
_PPM_GAP = rb"(?:#[^\n]*\s+)*"
_PPM_HEADER = re.compile(
    rb"P6\s+" + _PPM_GAP + rb"(\d+)\s+" + _PPM_GAP + rb"(\d+)\s+" + _PPM_GAP + rb"(\d+)\s"
)


def _decode_ppm(payload: bytes) -> np.ndarray:
    """Binary PPM (P6): header 'P6 <w> <h> <maxval>' + w*h*3 raster bytes.
    Returns the flat uint8 pixels."""
    m = _PPM_HEADER.match(payload)
    if not m:
        raise ValueError("not a binary PPM (P6) payload")
    w, h, maxval = (int(g) for g in m.groups())
    if maxval > 255:
        raise NotImplementedError("16-bit PPM rasters not supported")
    n = w * h * 3
    if len(payload) - m.end() < n:
        raise ValueError("truncated PPM raster")
    return np.frombuffer(payload, np.uint8, count=n, offset=m.end())


def _decode_wav(payload: bytes) -> np.ndarray:
    """PCM WAV (RIFF/WAVE, 8- or 16-bit): samples as a uint8 view (16-bit
    samples are shifted to their high byte so downstream byte-level features
    stay type-stable across modalities)."""
    if payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE payload")
    fmt = data = None
    pos = 12
    while pos + 8 <= len(payload):
        cid = payload[pos : pos + 4]
        size = int.from_bytes(payload[pos + 4 : pos + 8], "little")
        if pos + 8 + size > len(payload):
            # mirror _decode_ppm's truncation check: a short data chunk must
            # fail loudly, not decode into plausible-but-wrong features
            raise ValueError("truncated RIFF chunk")
        body = payload[pos + 8 : pos + 8 + size]
        if cid == b"fmt ":
            fmt = body
        elif cid == b"data":
            data = body
        pos += 8 + size + (size & 1)  # chunks are word-aligned
    if fmt is None or data is None:
        raise ValueError("WAV missing fmt/data chunk")
    audio_format = int.from_bytes(fmt[0:2], "little")
    channels = int.from_bytes(fmt[2:4], "little")
    bits = int.from_bytes(fmt[14:16], "little")
    if audio_format != 1 or channels != 1 or bits not in (8, 16):
        raise NotImplementedError(
            f"only mono PCM 8/16-bit WAV (fmt={audio_format}, "
            f"channels={channels}, bits={bits})"
        )
    if bits == 8:
        return np.frombuffer(data, np.uint8)
    samples = np.frombuffer(data[: len(data) & ~1], "<i2").astype(np.int32)
    return ((samples + 32768) >> 8).astype(np.uint8)


def _decode_payload(kind: str, payload: bytes) -> np.ndarray:
    """Codec boundary: the decoded samples of one payload as uint8 (P6
    pixels or PCM-WAV samples). Raises NotImplementedError for any other
    kind or container and for malformed payloads."""
    try:
        if kind == "image":
            return _decode_ppm(payload)
        if kind == "audio":
            return _decode_wav(payload)
    except ValueError as exc:
        raise NotImplementedError(
            f"only PPM/PCM-WAV payloads decode; this {kind} payload needs a "
            f"real codec (PIL/soundfile): {exc}"
        ) from exc
    raise NotImplementedError(f"unknown asset kind {kind!r}")


def extract_features(assets: DataFrame) -> DataFrame:
    """assets -> (asset_id, profile) via one Arrow pass.

    ``profile`` is the decoded sample array as a CENTERED integer vector
    (n*x_i - sum(x), exact int64 arithmetic: no float rounding to
    desynchronize engines), the content feature the near-dup path scores
    cosine over. Centering matters: raw byte vectors are all-positive with
    a dominant mean component, so their cosines crowd toward 1 regardless
    of content; the centered cosine is the Pearson correlation, ~0 for
    unrelated content. Sized for fixed-dim thumbnail-normalized assets
    (16x16 here)."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            profiles = []
            for kind, payload in zip(pdf["kind"], pdf["payload"]):
                d64 = _decode_payload(kind, bytes(payload or b"")).astype(np.int64)
                profiles.append((len(d64) * d64 - d64.sum()).tolist())
            yield pd.DataFrame(
                {"asset_id": pdf["asset_id"].astype("int64"), "profile": profiles}
            )

    return assets.select("asset_id", "kind", "payload").mapInPandas(
        gen, schema=PROFILE_SCHEMA
    )


# ---- planted image near-dup corpus + detection -------------------------
#
# Deterministic "web image" corpus keyed by doc_id, with planted near-dups:
# every doc_id % IMG_COPY_MOD == 0 (and > 0) is a lightly perturbed copy of
# doc_id - 1's image (~1% of nibbles changed). Rasters are md5-derived so
# they are pseudo-random (no modular-arithmetic aliasing between seeds) AND
# closed-form reproducible in ANSI SQL (DuckDB md5() == hashlib.md5) — the
# oracle recomputes them brute-force from doc_ids alone.

IMG_W = IMG_H = 16
IMG_N = IMG_W * IMG_H * 3          # 768 raster bytes
IMG_MD5_BLOCKS = IMG_N // 32       # 24 md5 hexdigests of 32 chars
IMG_COPY_MOD = 7                   # doc_id % 7 == 0 => near-copy of doc_id-1
IMG_PERTURB_MOD = 97               # copies perturb nibbles where (i+d)%97==0


def _planted_nibbles(doc_id: int, prefix: str) -> np.ndarray:
    """768 nibble values (0..15) for a doc's asset; copies perturb ~8.
    ``prefix`` namespaces the md5 stream per modality ('img' / 'aud') so an
    image and an audio asset of the same doc never alias."""
    s = doc_id - 1 if (doc_id % IMG_COPY_MOD == 0 and doc_id > 0) else doc_id
    import hashlib

    hx = "".join(
        hashlib.md5(f"{prefix}:{s}:{k}".encode()).hexdigest()
        for k in range(IMG_MD5_BLOCKS)
    )
    v = np.frombuffer(hx.encode(), np.uint8).astype(np.int64)
    v = np.where(v >= ord("a"), v - ord("a") + 10, v - ord("0"))
    if doc_id % IMG_COPY_MOD == 0 and doc_id > 0:
        i = np.arange(IMG_N)
        mask = (i + doc_id) % IMG_PERTURB_MOD == 0
        v = np.where(mask, (v + 1 + doc_id % 11) % 16, v)
    return v


def _image_nibbles(doc_id: int) -> np.ndarray:
    return _planted_nibbles(doc_id, "img")


def _audio_nibbles(doc_id: int) -> np.ndarray:
    return _planted_nibbles(doc_id, "aud")


def _wav8_payload(samples: np.ndarray) -> bytes:
    """Valid mono 8-bit PCM RIFF/WAVE container around raw sample bytes."""
    data = samples.astype(np.uint8).tobytes()
    rate = 8000
    fmt = (
        (1).to_bytes(2, "little") + (1).to_bytes(2, "little")
        + rate.to_bytes(4, "little") + rate.to_bytes(4, "little")
        + (1).to_bytes(2, "little") + (8).to_bytes(2, "little")
    )
    chunks = (b"WAVE" + b"fmt " + len(fmt).to_bytes(4, "little") + fmt
              + b"data" + len(data).to_bytes(4, "little") + data)
    return b"RIFF" + len(chunks).to_bytes(4, "little") + chunks


def _synth_planted_assets(spark, ids: DataFrame, kind: str) -> DataFrame:
    """Shared fixture generator: planted-near-dup assets in a REAL container
    per modality (P6 PPM rasters / 8-bit PCM WAV samples), one Arrow pass."""
    ppm_header = f"P6\n{IMG_W} {IMG_H}\n255\n".encode()

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = {"asset_id": [], "kind": [], "payload": [], "meta": []}
            for d in pdf["doc_id"]:
                d = int(d)
                if kind == "image":
                    payload = ppm_header + _image_nibbles(d).astype(np.uint8).tobytes()
                else:
                    payload = _wav8_payload(_audio_nibbles(d))
                rows["asset_id"].append(d)
                rows["kind"].append(kind)
                rows["payload"].append(payload)
                rows["meta"].append({"seed": str(d)})
            yield pd.DataFrame(rows)

    return ids.select(F.col("doc_id").cast("long")).mapInPandas(
        gen, schema=ASSET_SCHEMA
    )


def synth_image_corpus(spark, ids: DataFrame) -> DataFrame:
    """ids(doc_id) -> planted-near-dup image assets: valid P6 PPM payloads
    whose 16x16 rasters are md5-derived nibble streams."""
    return _synth_planted_assets(spark, ids, "image")


def synth_audio_corpus(spark, ids: DataFrame) -> DataFrame:
    """ids(doc_id) -> planted-near-dup audio assets: valid mono 8-bit PCM
    WAVs whose 768 samples are md5-derived nibble streams ('aud' stream —
    disjoint from the image stream)."""
    return _synth_planted_assets(spark, ids, "audio")


def asset_dup_pairs(assets: DataFrame, kind: str) -> DataFrame:
    """Content near-dup pairs (asset_id_a < asset_id_b, cosine) of one
    modality: decode payloads (P6 rasters / PCM samples), take centered
    profiles, generate candidates with hyperplane-LSH (LSH_TABLES x
    LSH_BITS; the only shuffle is by bucket key, no crossJoin) and
    exact-rescore with int64 dot products so both engines agree
    bit-for-bit; pairs at cosine >= DUP_THRESHOLD are returned. Rescoring
    makes precision exactly 1. The LSH path requires fixed-dim profiles
    (thumbnail/window-normalized assets)."""
    from webcrawler_spark.operators.similarity import lsh_candidate_pairs

    feats = extract_features(assets.filter(F.col("kind") == kind)).persist()
    cand = lsh_candidate_pairs(
        feats.select(
            F.col("asset_id").alias("vec_id"),
            F.col("profile").cast("array<double>").alias("embedding"),
        ),
        n_tables=LSH_TABLES,
        n_bits=LSH_BITS,
    )
    # squared norms once per asset, not per candidate row: the threshold
    # filter is pushed into the join condition, so the cosine expression
    # evaluates twice per row. Identical int64 arithmetic.
    withn = feats.withColumn(
        "_nrm",
        F.aggregate(
            "profile", F.lit(0).cast("long"), lambda acc, x: acc + x * x
        ),
    )
    a = withn.select(
        F.col("asset_id").alias("vec_id_a"),
        F.col("profile").alias("pa"),
        F.col("_nrm").alias("na"),
    )
    b = withn.select(
        F.col("asset_id").alias("vec_id_b"),
        F.col("profile").alias("pb"),
        F.col("_nrm").alias("nb"),
    )
    dot = F.aggregate(
        F.zip_with("pa", "pb", lambda x, y: x * y),
        F.lit(0).cast("long"), lambda acc, x: acc + x,
    )
    return (
        cand.join(a, "vec_id_a")
        .join(b, "vec_id_b")
        .filter((F.col("na") > 0) & (F.col("nb") > 0))
        .withColumn("cosine", F.round(dot / (F.sqrt("na") * F.sqrt("nb")), 6))
        .filter(F.col("cosine") >= DUP_THRESHOLD)
        .select(
            F.col("vec_id_a").alias("asset_id_a"),
            F.col("vec_id_b").alias("asset_id_b"),
            "cosine",
        )
    )
