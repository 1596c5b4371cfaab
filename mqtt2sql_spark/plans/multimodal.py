"""Multimodal column plumbing + the general as-of join query.

Multimodal contract (SURVEY.md §7.1 M5): media travels as an opaque
`binary` column plus typed metadata — exactly how the reference treats
its payload (LONGBLOB, /root/reference/mysql.sql:46) — and per-batch
Python work happens in Arrow-batched `mapInPandas`, never per-row UDFs.
No query decodes real media: `fake_decode_meta` is a deterministic
stand-in that keeps every piece of Spark-side plumbing (binary column,
batch iteration, schema, partitioning) real and oracle-checkable.  A
real codec would replace it inside the same `mapInPandas` stage.
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mqtt2sql_spark.operators.materialize import snapshot

from mqtt2sql_spark.fixtures import load_table
from mqtt2sql_spark.operators.partitioning import fan_out
from mqtt2sql_spark.plans.base import register


def fake_decode_meta(payload: bytes) -> tuple[int, int, int, int, int]:
    """Deterministic fake decode: metadata derived purely from the bytes.
    (n_bytes, width, height, channels, first_byte)."""
    n = len(payload)
    return n, 64 + n % 512, 64 + (n * 7) % 512, 3, (payload[0] if n else 0)


@register(
    "multimodal_decode_meta",
    oracle="""
    SELECT doc_id, n_bytes,
           64 + n_bytes % 512 AS width,
           64 + (n_bytes * 7) % 512 AS height,
           3 AS channels,
           ascii(substring(text, 1, 1)) AS first_byte
    FROM (SELECT doc_id, text,
                 CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes
          FROM documents)
    """,
    doc="Multimodal decode plumbing: binary payload column → mapInPandas "
    "(Arrow batches) → typed metadata struct.  The decode itself is a "
    "deterministic fake (real codecs stubbed — not in container); the "
    "schema/batching/partitioning is the real 100 TB media-pipeline "
    "shape: media bytes never leave the executor, metadata is columnar.",
)
def multimodal_decode_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.encode("text", "UTF-8").alias("payload")
    )

    def decode_batches(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in batches:
            meta = pdf["payload"].map(fake_decode_meta)
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "n_bytes": meta.map(lambda m: m[0]),
                    "width": meta.map(lambda m: m[1]).astype("int64"),
                    "height": meta.map(lambda m: m[2]).astype("int64"),
                    "channels": meta.map(lambda m: m[3]).astype("int32"),
                    "first_byte": meta.map(lambda m: m[4]).astype("int32"),
                }
            )

    return docs.mapInPandas(
        decode_batches,
        "doc_id long, n_bytes long, width long, height long, "
        "channels int, first_byte int",
    )


@register(
    "asof_join_purchase_click",
    oracle="""
    , purchases AS (
        SELECT event_id, user_id, ts, value FROM events
        WHERE event_type = 'purchase'
    ),
    clicks AS (
        SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'
    )
    SELECT p.event_id, p.user_id, p.ts, round(p.value, 4) AS value,
           c.ts AS ts_click, c.event_id AS event_id_click
    FROM purchases p ASOF LEFT JOIN clicks c
      ON p.user_id = c.user_id AND p.ts > c.ts
    """,
    doc="General two-table as-of join (operators/asof.py asof_join_window: "
    "union + ignore-nulls last over a per-user window — one shuffle, "
    "codegen; strictly-earlier match, left-extended).  Built-ins win: "
    "a pandas merge_asof form pays ~90 ms/group of Python overhead.  "
    "Oracle: DuckDB's native ASOF LEFT JOIN.",
)
def asof_join_purchase_click(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mqtt2sql_spark.operators.asof import asof_join_window

    ev = load_table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", F.round("value", 4).alias("value")
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", "ts", F.col("ts").alias("ts_click"), "event_id"
    )
    out = asof_join_window(
        purchases,
        clicks.select(
            "user_id",
            "ts",
            F.col("event_id").alias("click_id"),
            "ts_click",
        ),
        on="ts",
        by="user_id",
        right_cols=["ts_click", "click_id"],
        suffix="",
        allow_exact=False,
    )
    return out.select(
        "event_id",
        "user_id",
        "ts",
        "value",
        "ts_click",
        F.col("click_id").alias("event_id_click"),
    )


CHUNK_SIZE = 100


@register(
    "multimodal_chunk_bytes",
    oracle=f"""
    , payloads AS (
        SELECT doc_id, encode(text) AS payload,
               CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes
        FROM documents
    )
    SELECT doc_id, chunk_idx,
           CAST(length(substring(hexpayload, chunk_idx * {2 * CHUNK_SIZE} + 1,
                       {2 * CHUNK_SIZE})) // 2 AS INTEGER) AS chunk_bytes,
           md5(substring(hexpayload, chunk_idx * {2 * CHUNK_SIZE} + 1,
               {2 * CHUNK_SIZE})) AS chunk_hash
    FROM (
        SELECT doc_id, upper(hex(payload)) AS hexpayload,
               CAST(unnest(range(0, CAST(ceil(n_bytes / {CHUNK_SIZE}.0) AS BIGINT)))
                    AS INTEGER) AS chunk_idx
        FROM payloads
    )
    """,
    doc="Multimodal frame/chunk sampling plumbing: binary payload → "
    "fixed-size byte chunks via mapInPandas (the video-frame / audio-"
    "window batch shape: one input row fans out to N media segments "
    "inside the executor, only scalar metadata+hashes leave it).",
)
def multimodal_chunk_bytes(spark: SparkSession, sf_dir: str) -> DataFrame:
    import hashlib

    import pandas as pd

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.encode("text", "UTF-8").alias("payload")
    )

    def chunk_batches(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in batches:
            out = {"doc_id": [], "chunk_idx": [], "chunk_bytes": [], "chunk_hash": []}
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                data = bytes(payload)
                for i in range(0, max(len(data), 1), CHUNK_SIZE):
                    chunk = data[i : i + CHUNK_SIZE]
                    if not chunk:
                        continue
                    out["doc_id"].append(doc_id)
                    out["chunk_idx"].append(i // CHUNK_SIZE)
                    out["chunk_bytes"].append(len(chunk))
                    out["chunk_hash"].append(
                        hashlib.md5(chunk.hex().upper().encode()).hexdigest()
                    )
            yield pd.DataFrame(out)

    return docs.mapInPandas(
        chunk_batches,
        "doc_id long, chunk_idx int, chunk_bytes int, chunk_hash string",
    )


TARGET_BOX = 224  # resize target (longest edge), CNN-preprocessing style


@register(
    "multimodal_resize_dims",
    oracle=f"""
    , meta AS (
        SELECT doc_id, n_bytes,
               64 + n_bytes % 512 AS width,
               64 + (n_bytes * 7) % 512 AS height
        FROM (SELECT doc_id,
                     CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes
              FROM documents)
    )
    SELECT doc_id, width, height,
           greatest(1, (width * {TARGET_BOX}) // greatest(width, height))
               AS out_w,
           greatest(1, (height * {TARGET_BOX}) // greatest(width, height))
               AS out_h
    FROM meta
    """,
    doc="Multimodal resize plumbing: aspect-preserving fit of each "
    f"(width, height) into a {TARGET_BOX}px box in exact integer "
    "arithmetic ((edge*T)//longest) — the geometry half of an image "
    "resize stage; no query transforms pixels.  Dims come from the "
    "same deterministic fake decode as multimodal_decode_meta; pure "
    "per-row projection, no shuffle.",
)
def multimodal_resize_dims(spark: SparkSession, sf_dir: str) -> DataFrame:
    meta = multimodal_decode_meta(spark, sf_dir)
    longest = F.greatest("width", "height")
    return meta.select(
        "doc_id",
        "width",
        "height",
        F.greatest(
            F.lit(1), (F.col("width") * TARGET_BOX).cast("long") / longest
        )
        .cast("long")
        .alias("out_w"),
        F.greatest(
            F.lit(1), (F.col("height") * TARGET_BOX).cast("long") / longest
        )
        .cast("long")
        .alias("out_h"),
    )


_HEXU = "0123456789ABCDEF"


@register(
    "multimodal_byte_histogram",
    oracle=f"""
    , payloads AS (
        SELECT doc_id, upper(hex(encode(text))) AS hp,
               CAST(octet_length(encode(text)) AS BIGINT) AS n
        FROM documents
    ),
    pos AS (
        SELECT doc_id, hp, unnest(range(0, n)) AS i FROM payloads
    ),
    b AS (
        SELECT doc_id,
               16 * (instr('{_HEXU}',
                           substr(hp, CAST(2 * i + 1 AS INTEGER), 1)) - 1)
                 + (instr('{_HEXU}',
                          substr(hp, CAST(2 * i + 2 AS INTEGER), 1)) - 1)
                   AS byte
        FROM pos
    )
    SELECT doc_id, CAST(byte // 32 AS INTEGER) AS bin,
           CAST(count(*) AS BIGINT) AS n_bytes
    FROM b GROUP BY doc_id, bin
    """,
    doc="Multimodal feature-extraction plumbing: payload bytes → 8-bin "
    "byte histogram per document, vectorized with numpy "
    "(frombuffer >> 5, bincount) inside mapInPandas — the batch shape "
    "of any embedding/feature extractor: media bytes stay in the "
    "executor, only the small feature vector (long format, exact "
    "integers) leaves.  The oracle recomputes the histogram from hex "
    "pairs in pure SQL.",
)
def multimodal_byte_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np
    import pandas as pd

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.encode("text", "UTF-8").alias("payload")
    )

    def hist_batches(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in batches:
            out = {"doc_id": [], "bin": [], "n_bytes": []}
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                data = np.frombuffer(bytes(payload), dtype=np.uint8)
                if data.size == 0:
                    continue
                counts = np.bincount(data >> 5, minlength=8)
                for bin_idx in np.nonzero(counts)[0]:
                    out["doc_id"].append(doc_id)
                    out["bin"].append(int(bin_idx))
                    out["n_bytes"].append(int(counts[bin_idx]))
            yield pd.DataFrame(out)

    return docs.mapInPandas(
        hist_batches, "doc_id long, bin int, n_bytes long"
    )


# --- video-style frame sampling --------------------------------------------

FRAME_BYTES = 64  # fake frame width (bytes) — stands in for a decoded frame
FRAME_EVERY = 4  # keep every 4th frame (uniform temporal sampling)


@register(
    "multimodal_frame_sample",
    oracle=f"""
    , payloads AS (
        SELECT doc_id, upper(hex(encode(text))) AS hexpayload,
               CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes
        FROM documents
    )
    SELECT doc_id, frame_no,
           frame_no * {FRAME_BYTES} AS frame_off,
           md5(substring(hexpayload, frame_no * {2 * FRAME_BYTES} + 1,
               {2 * FRAME_BYTES})) AS frame_hash
    FROM (
        SELECT doc_id, hexpayload,
               CAST(unnest(range(0,
                   CAST(ceil(n_bytes / {FRAME_BYTES}.0) AS BIGINT)))
                   AS BIGINT) AS frame_no
        FROM payloads
    ) WHERE frame_no % {FRAME_EVERY} = 0
    """,
    doc="Uniform temporal frame sampling (video preprocessing shape): the "
    "payload is segmented into fixed-size fake frames inside mapInPandas "
    f"and every {FRAME_EVERY}th frame is kept — the decode loop runs "
    "executor-side per Arrow batch, raw frame bytes never leave the "
    "executor (only offsets+hashes are emitted), and sampling drops "
    f"{FRAME_EVERY - 1}/{FRAME_EVERY} of the decode output before any "
    "shuffle.  With a real codec the per-payload loop becomes "
    "ffmpeg-style keyframe extraction; the batch shape is identical "
    "(SURVEY.md §2 C multimodal; stubs documented at module head).",
)
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    import hashlib

    import pandas as pd

    docs = (
        load_table(spark, sf_dir, "documents")
        .transform(fan_out, spark)
        .select("doc_id", F.encode("text", "UTF-8").alias("payload"))
    )

    def sample_frames(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in batches:
            out = {"doc_id": [], "frame_no": [], "frame_off": [], "frame_hash": []}
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                data = bytes(payload)
                for off in range(0, len(data), FRAME_BYTES * FRAME_EVERY):
                    frame = data[off : off + FRAME_BYTES]
                    out["doc_id"].append(doc_id)
                    out["frame_no"].append(off // FRAME_BYTES)
                    out["frame_off"].append(off)
                    out["frame_hash"].append(
                        hashlib.md5(frame.hex().upper().encode()).hexdigest()
                    )
            yield pd.DataFrame(out)

    return docs.mapInPandas(
        sample_frames,
        "doc_id long, frame_no long, frame_off long, frame_hash string",
    )


# --- audio-style overlapping window framing --------------------------------

AUDIO_WIN = 96  # fake sample-window width (bytes) — stands in for an STFT frame
AUDIO_HOP = 32  # hop between window starts (2/3 overlap)


@register(
    "multimodal_audio_windows",
    oracle=f"""
    , payloads AS (
        SELECT doc_id, upper(hex(encode(text))) AS hexpayload,
               CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes
        FROM documents WHERE octet_length(encode(text)) >= {AUDIO_WIN}
    )
    SELECT doc_id, win_no,
           win_no * {AUDIO_HOP} AS win_off,
           md5(substring(hexpayload, win_no * {2 * AUDIO_HOP} + 1,
               {2 * AUDIO_WIN})) AS win_hash
    FROM (
        SELECT doc_id, hexpayload,
               CAST(unnest(range(0,
                   (n_bytes - {AUDIO_WIN}) // {AUDIO_HOP} + 1))
                   AS BIGINT) AS win_no
        FROM payloads
    )
    """,
    doc="Overlapping window framing (audio STFT / wav2vec feature "
    f"shape): {AUDIO_WIN}-byte windows every {AUDIO_HOP} bytes (2/3 "
    "overlap), full windows only — the framing that precedes any "
    "spectral feature extraction.  Same executor-side mapInPandas "
    "contract as frame sampling: the per-payload window loop runs on "
    "Arrow batches, raw window bytes reduce to hashes before anything "
    "is shuffled.  Overlap multiplies output rows by width/hop, so the "
    "hop is the operator's fan-out knob at 100 TB.",
)
def multimodal_audio_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    import hashlib

    import pandas as pd

    docs = (
        load_table(spark, sf_dir, "documents")
        .transform(fan_out, spark)
        .select("doc_id", F.encode("text", "UTF-8").alias("payload"))
    )

    def frame_windows(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in batches:
            out = {"doc_id": [], "win_no": [], "win_off": [], "win_hash": []}
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                data = bytes(payload)
                if len(data) < AUDIO_WIN:
                    continue
                for n, off in enumerate(
                    range(0, len(data) - AUDIO_WIN + 1, AUDIO_HOP)
                ):
                    win = data[off : off + AUDIO_WIN]
                    out["doc_id"].append(doc_id)
                    out["win_no"].append(n)
                    out["win_off"].append(off)
                    out["win_hash"].append(
                        hashlib.md5(win.hex().upper().encode()).hexdigest()
                    )
            yield pd.DataFrame(out)

    return docs.mapInPandas(
        frame_windows,
        "doc_id long, win_no long, win_off long, win_hash string",
    )


# --- chunk-level storage dedup readout --------------------------------------


@register(
    "chunk_dedup_ratio",
    oracle=f"""
    , payloads AS (
        SELECT doc_id, encode(text) AS payload,
               CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes
        FROM documents
    ),
    chunks AS (
        SELECT md5(substring(hexpayload, chunk_idx * {2 * CHUNK_SIZE} + 1,
                   {2 * CHUNK_SIZE})) AS chunk_hash
        FROM (
            SELECT upper(hex(payload)) AS hexpayload,
                   CAST(unnest(range(0, CAST(ceil(n_bytes / {CHUNK_SIZE}.0)
                                             AS BIGINT)))
                        AS INTEGER) AS chunk_idx
            FROM payloads
        )
    )
    SELECT CAST(count(*) AS BIGINT) AS n_chunks,
           CAST(count(DISTINCT chunk_hash) AS BIGINT) AS n_distinct_chunks,
           CAST(count(*) - count(DISTINCT chunk_hash) AS BIGINT)
               AS dup_chunks,
           CAST((count(*) - count(DISTINCT chunk_hash)) * 10000
                // count(*) AS BIGINT) AS saved_bp
    FROM chunks
    """,
    doc="Content-addressed chunk dedup ratio — the storage-savings "
    "readout a dataset lake computes before physical dedup (fixed-size "
    "chunking stands in for content-defined chunking; the chunk "
    "grammar and hashes are exactly multimodal_chunk_bytes').  "
    "count(DISTINCT hash) is one exact distinct aggregate — at 100 TB "
    "the chunk-hash shuffle distributes over the full hash space with "
    "no skew, and the distinct is the same two-phase partial aggregate "
    "every engine runs; dup_chunks/saved_bp quantify what a "
    "content-addressed store would save.  All-integer surface.",
)
def chunk_dedup_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    ch = multimodal_chunk_bytes(spark, sf_dir)
    return ch.agg(
        F.count(F.lit(1)).cast("long").alias("n_chunks"),
        F.countDistinct("chunk_hash").cast("long").alias("n_distinct_chunks"),
        (F.count(F.lit(1)) - F.countDistinct("chunk_hash"))
        .cast("long")
        .alias("dup_chunks"),
        F.expr(
            "CAST((count(1) - count(DISTINCT chunk_hash)) * 10000 "
            "DIV count(1) AS BIGINT)"
        ).alias("saved_bp"),
    )


# --- perceptual-hash near-dup over binary payloads --------------------------

_PHASH_HAM_MAX = 2
_PHASH_HEX = "0123456789ABCDEF"


def _duck_phash_bits() -> str:
    # bit i set when high-nibble i occurs more often than the flat share:
    # cnt_i * 16 > len(s)
    terms = []
    for i, ch in enumerate(_PHASH_HEX):
        cnt = f"(length(s) - length(replace(s, '{ch}', '')))"
        terms.append(f"(CASE WHEN {cnt} * 16 > length(s) THEN {1 << i} ELSE 0 END)")
    return " + ".join(terms)


def _spark_phash_bits() -> str:
    terms = []
    for i, ch in enumerate(_PHASH_HEX):
        cnt = f"(length(s) - length(replace(s, '{ch}', '')))"
        terms.append(f"(CASE WHEN {cnt} * 16 > length(s) THEN {1 << i} ELSE 0 END)")
    return " + ".join(terms)


@register(
    "multimodal_phash_neardup",
    oracle=f"""
    , hp AS (
        SELECT doc_id,
               regexp_replace(upper(hex(encode(text))), '(.).', '\\1', 'g')
                   AS s
        FROM documents
    ),
    fp AS MATERIALIZED (
        SELECT doc_id, CAST({_duck_phash_bits()} AS BIGINT) AS f
        FROM hp WHERE length(s) > 0
    ),
    bands AS (
        {" UNION ALL ".join(
            f"SELECT doc_id, {b} AS band, (f >> {4 * b}) & 15 AS key, f FROM fp"
            for b in range(4)
        )}
    ),
    cand AS (
        SELECT DISTINCT x.doc_id AS d1, y.doc_id AS d2,
               bit_count(xor(CAST(x.f AS BIGINT), CAST(y.f AS BIGINT))) AS ham
        FROM bands x
        JOIN bands y ON x.band = y.band AND x.key = y.key
                    AND x.doc_id < y.doc_id
    )
    SELECT CAST(ham AS BIGINT) AS hamming,
           CAST(count(*) AS BIGINT) AS n_pairs
    FROM cand WHERE ham <= {_PHASH_HAM_MAX}
    GROUP BY ham
    """,
    doc="Perceptual-hash near-duplicate detection over the binary "
    "payload column — the image-dedup pipeline shape (fingerprint "
    "-> LSH band -> Hamming verify) with a deterministic stand-in "
    "fingerprint, since this container has no image codecs: a "
    "16-bit signature from the payload's high-nibble histogram "
    "(bit i = nibble i over-represented vs the flat share), banded "
    "into 4 nibbles for candidate generation, candidates verified "
    "with bit_count(xor) <= {_PHASH_HAM_MAX}.  Swapping the "
    "fingerprint UDF for a real pHash changes nothing in the plan: "
    "band join fan-out, xor verify, distinct-pair dedup are the "
    "production structure.  The nibble extraction is one shared "
    "regex ('(.).' -> first char), counts are length-difference "
    "integer math — no per-row Python.",
    tags=("multimodal", "dedup"),
)
def multimodal_phash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").transform(fan_out, spark, "doc_id")
    hp = docs.select(
        "doc_id",
        F.expr(
            "regexp_replace(upper(hex(CAST(text AS BINARY))), '(.).', '$1')"
        ).alias("s"),
    ).filter(F.length("s") > 0)
    fp = hp.select(
        "doc_id", F.expr(f"CAST({_spark_phash_bits()} AS BIGINT)").alias("f")
    )
    # the 16-bit fingerprint space is BOUNDED (65536 values), so never
    # pair documents directly (O(n²) in corpus size): fold to distinct
    # fingerprint VALUES with counts, band-join the value relation
    # (bounded O(V²/16) work whatever the corpus), and weight each value
    # pair by cnt_a * cnt_b — plus the within-value diagonal C(cnt, 2)
    # at hamming 0.  Exact: the pair histogram only depends on the
    # fingerprint multiset.
    vf = (
        fp.groupBy("f")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .transform(snapshot, eager=False)
    )
    bands = None
    for b in range(4):
        part = vf.select(
            F.lit(b).alias("band"),
            F.expr(f"shiftright(f, {4 * b}) & 15").alias("key"),
            "f",
            "cnt",
        )
        bands = part if bands is None else bands.unionAll(part)
    cand = (
        bands.alias("x")
        .join(
            bands.alias("y"),
            F.expr("x.band = y.band AND x.key = y.key AND x.f < y.f"),
        )
        .select(
            F.col("x.f").alias("f1"),
            F.col("y.f").alias("f2"),
            F.expr("bit_count(x.f ^ y.f)").alias("ham"),
            (F.col("x.cnt") * F.col("y.cnt")).alias("np"),
        )
        .distinct()
    )
    cross = cand.filter(F.col("ham") <= _PHASH_HAM_MAX).select("ham", "np")
    diag = vf.select(
        F.lit(0).alias("ham"),
        F.expr("cnt * (cnt - 1) DIV 2").alias("np"),
    ).filter(F.col("np") > 0)
    return (
        cross.unionAll(diag)
        .groupBy(F.col("ham").cast("long").alias("hamming"))
        .agg(F.sum("np").cast("long").alias("n_pairs"))
    )
