"""Multimodal binary-column plumbing (north-star): image/audio/video as
opaque ``binary`` columns with typed metadata, processed by Arrow-batched
``mapInPandas`` stages.

Image and audio decode are REAL: ``decode_png_stats`` runs a pure-stdlib
PNG decoder (``png.py`` — zlib inflate, chunk CRCs, all five scanline
filters) and ``decode_wav_stats`` a pure-stdlib PCM WAV parser
(``wav.py``), both inside Arrow-batched stages and oracle-gated
(``mm_decode_png`` / ``mm_decode_wav``). Video decode remains the
disclosed deterministic stand-in (``decode_fake`` / ``frame_sample`` —
no ffmpeg in this container); everything Spark-side around it is real
and tested: schema, batch shapes, partition sizing, UDF signatures.

Scale notes: binary payloads dominate row size, so the stage
repartitions by a size-aware key before ``mapInPandas`` and bounds Arrow
batch bytes via ``maxRecordsPerBatch``; metadata-only queries never touch
the binary column (column pruning keeps it out of the scan).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("media_type", T.StringType(), True),
        T.StructField("content", T.BinaryType(), True),
        T.StructField(
            "meta",
            T.StructType(
                [
                    T.StructField("n_bytes", T.LongType()),
                    T.StructField("content_digest", T.StringType()),
                    T.StructField("source_uri", T.StringType()),
                ]
            ),
            True,
        ),
    ]
)

FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("feature", T.ArrayType(T.DoubleType()), True),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
    ]
)


#: rows per Arrow batch for every binary-payload stage: bounds the bytes
#: a Python worker holds at once (the executor-OOM guard for payload
#: batches). Set on the session by every stage constructor.
ARROW_BATCH_ROWS = 256


def _set_arrow_batch(spark) -> None:
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", str(ARROW_BATCH_ROWS))


def attach_binary(df: DataFrame, id_col: str, payload_col: str, media_type: str = "application/octet-stream") -> DataFrame:
    """Wrap an arbitrary column as a media row: binary content + typed
    metadata struct (digest, byte size, source URI)."""
    content = F.col(payload_col).cast("binary")
    return df.select(
        F.col(id_col).alias("media_id"),
        F.lit(media_type).alias("media_type"),
        content.alias("content"),
        F.struct(
            F.octet_length(F.col(payload_col)).cast("long").alias("n_bytes"),
            F.md5(F.col(payload_col).cast("string")).alias("content_digest"),
            F.concat(F.lit("mem://"), F.col(id_col).cast("string")).alias("source_uri"),
        ).alias("meta"),
    )


PNG_STATS_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("width", T.LongType(), True),
        T.StructField("height", T.LongType(), True),
        T.StructField("channels", T.LongType(), True),
        T.StructField("n_px", T.LongType(), True),
        T.StructField("px_sum", T.LongType(), True),
        T.StructField("px_wsum", T.LongType(), True),
        T.StructField("px_min", T.LongType(), True),
        T.StructField("px_max", T.LongType(), True),
    ]
)


def _png_stats_append(out: dict, mid, content: bytes) -> None:
    """Decode one PNG payload and append its stat row to ``out`` — the
    single source of the per-image arithmetic, shared by the two-stage
    ``decode_png_stats`` and the fused ``synthetic_png_stats`` so the
    fused fixture path is bit-identical by construction."""
    import numpy as np

    from .png import decode_png

    w, h, c, px = decode_png(bytes(content))
    arr = np.frombuffer(px, dtype=np.uint8).astype(np.int64)
    out["media_id"].append(mid)
    out["width"].append(w)
    out["height"].append(h)
    out["channels"].append(c)
    out["n_px"].append(arr.size)
    out["px_sum"].append(int(arr.sum()))
    out["px_wsum"].append(int((arr * (np.arange(arr.size) + 1)).sum()))
    out["px_min"].append(int(arr.min()))
    out["px_max"].append(int(arr.max()))


def decode_png_stats(media: DataFrame) -> DataFrame:
    """REAL image decode stage — pure-stdlib PNG (zlib inflate, chunk CRC
    verification, all five scanline unfilters; see ``png.decode_png``) in
    the same Arrow-batched ``mapInPandas`` plumbing as the other kernels.
    Per image it emits dimensions plus pixel stats (sum, position-weighted
    sum Σ(i+1)·px[i], min, max) — the position weighting makes the output
    sensitive to every byte AND its location, so the ``mm_decode_png``
    oracle replay proves a bit-exact decode, not just a plausible one.
    Binary stays inside the stage; downstream shuffles 9 longs per image,
    never payloads. A malformed payload raises (fail-closed: a silently
    misdecoded image poisons training features)."""

    def _decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {k: [] for k in PNG_STATS_SCHEMA.fieldNames()}
            for mid, content in zip(pdf["media_id"], pdf["content"]):
                _png_stats_append(out, mid, content)
            yield pd.DataFrame({k: pd.array(v, dtype="int64") for k, v in out.items()})

    _set_arrow_batch(media.sparkSession)
    return _spread(media).mapInPandas(_decode, PNG_STATS_SCHEMA)


WAV_STATS_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("sample_rate", T.LongType(), True),
        T.StructField("channels", T.LongType(), True),
        T.StructField("bits", T.LongType(), True),
        T.StructField("n_samples", T.LongType(), True),
        T.StructField("s_sum", T.LongType(), True),
        T.StructField("s_wsum", T.LongType(), True),
        T.StructField("s_min", T.LongType(), True),
        T.StructField("s_max", T.LongType(), True),
    ]
)


def decode_wav_stats(media: DataFrame) -> DataFrame:
    """REAL audio decode stage — pure-stdlib PCM WAV (RIFF chunk parsing,
    8/16-bit samples; see ``wav.decode_wav``) in the same Arrow-batched
    ``mapInPandas`` plumbing as the PNG kernel. Emits per-clip format
    fields plus sample stats including the position-weighted sum
    Σ(i+1)·s[i], so the ``mm_decode_wav`` oracle replay proves a
    bit-exact decode. Fail-closed on malformed/compressed payloads."""
    import numpy as np

    from .wav import decode_wav

    def _decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {k: [] for k in WAV_STATS_SCHEMA.fieldNames()}
            for mid, content in zip(pdf["media_id"], pdf["content"]):
                rate, ch, bits, samples = decode_wav(bytes(content))
                arr = np.asarray(samples, dtype=np.int64)
                out["media_id"].append(mid)
                out["sample_rate"].append(rate)
                out["channels"].append(ch)
                out["bits"].append(bits)
                out["n_samples"].append(arr.size)
                out["s_sum"].append(int(arr.sum()))
                out["s_wsum"].append(int((arr * (np.arange(arr.size) + 1)).sum()))
                out["s_min"].append(int(arr.min()))
                out["s_max"].append(int(arr.max()))
            yield pd.DataFrame({k: pd.array(v, dtype="int64") for k, v in out.items()})

    _set_arrow_batch(media.sparkSession)
    return _spread(media).mapInPandas(_decode, WAV_STATS_SCHEMA)


def synthetic_wav_media(ids: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Deterministic WAV fixture stage: per id, ENCODE a spec-valid PCM
    WAV whose format and samples are closed-form in the id —

        rate = 8000 + 1000·(id % 5),  channels = 1 + id % 2,
        bits = 8 if id % 3 == 0 else 16,
        n_samples = (20 + id % 16) · channels,
        s[i] = (id·17 + i·13) % 256            (8-bit)
               ((id·17 + i·13) % 4001) − 2000  (16-bit, signed)

    so the oracle replays the expected stats from the formula alone —
    the gate never trusts encoder and decoder to agree by shared bug."""
    from .wav import encode_wav

    def _make(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids_, blobs = [], []
            for did in pdf[id_col]:
                did = int(did)
                rate = 8000 + 1000 * (did % 5)
                ch = 1 + did % 2
                bits = 8 if did % 3 == 0 else 16
                n = (20 + did % 16) * ch
                if bits == 8:
                    samples = [(did * 17 + i * 13) % 256 for i in range(n)]
                else:
                    samples = [((did * 17 + i * 13) % 4001) - 2000 for i in range(n)]
                ids_.append(did)
                blobs.append(encode_wav(samples, rate, ch, bits))
            yield pd.DataFrame({"media_id": pd.array(ids_, dtype="int64"), "content": blobs})

    schema = T.StructType(
        [
            T.StructField("media_id", T.LongType(), False),
            T.StructField("content", T.BinaryType(), True),
        ]
    )
    return ids.select(F.col(id_col)).mapInPandas(_make, schema)


def synthetic_png_media(ids: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Deterministic PNG fixture stage: for each id, ENCODE a real PNG
    whose geometry, channel count, pixel bytes, and per-row filter type
    are all fixed formulas of the id —

        w = 4 + id % 9,  h = 3 + id % 7,
        channels = (1, 3, 4)[id % 3],
        px[i] = (id·31 + i·7) % 256,
        row filter = (id + row) % 5

    so across a corpus slice every unfilter path is exercised, and an
    oracle can replay the expected pixel stats from the formula alone
    (the gate never trusts the encoder and decoder to agree by shared
    bug: DuckDB computes the stats from the closed form). Output rows
    match the ``attach_binary`` media contract."""

    def _make(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids_, blobs = [], []
            for did in pdf[id_col]:
                did = int(did)
                ids_.append(did)
                blobs.append(_png_fixture_blob(did))
            yield pd.DataFrame({"media_id": pd.array(ids_, dtype="int64"), "content": blobs})

    schema = T.StructType(
        [
            T.StructField("media_id", T.LongType(), False),
            T.StructField("content", T.BinaryType(), True),
        ]
    )
    return ids.select(F.col(id_col)).mapInPandas(_make, schema)


def _png_fixture_blob(did: int) -> bytes:
    """The ``synthetic_png_media`` per-id blob formula (see its docstring)
    as a plain function — the single source shared by the two-stage
    fixture and the fused fixture+kernel stages below."""
    from .png import encode_png

    w, h = 4 + did % 9, 3 + did % 7
    c = (1, 3, 4)[did % 3]
    px = bytes((did * 31 + i * 7) % 256 for i in range(w * h * c))
    return encode_png(px, w, h, c, lambda y, d=did: (d + y) % 5)


#: rows-per-partition above which a fused fixture stage repartitions its
#: (narrow) id input to the session parallelism before the kernel runs —
#: the ids-side analog of ``_spread``'s one-fat-partition guard. Below
#: it, the extra tasks' fixed Python-stage overhead exceeds the kernel
#: win (measured r11: 5000 tiny-image kernels over 8 tasks 0.40 s vs
#: 32 tasks 0.71 s on this host); a genuinely fat partition (unknown
#: cardinality, or a single-partition drop) always spreads.
_FUSE_SPREAD_ROWS_PER_PART = 4096


def _ids_spread(ids: DataFrame) -> DataFrame:
    """Parallelism guard for FUSED fixture+kernel stages: the payload is
    created inside the kernel task, so only the narrow id rows ever
    move (guide §8: decide placement with small rows, move heavy bytes
    zero times here). Repartition to the session parallelism when the
    input arrives in fewer partitions than cores AND the per-partition
    row estimate is fat enough for the kernel win to beat the extra
    tasks' fixed overhead; unknown cardinality assumes fat (the safe
    direction at scale — at 100 TB inputs already arrive wider than
    cores and this is a no-op)."""
    from ..sources.tables import _approx_rows

    sc = ids.sparkSession.sparkContext
    cores = sc.defaultParallelism
    parts = ids.rdd.getNumPartitions()
    if parts >= cores:
        return ids
    rows = _approx_rows(ids)
    if rows is not None and rows <= parts * _FUSE_SPREAD_ROWS_PER_PART:
        return ids
    return ids.repartition(cores)


def synthetic_png_stats(ids: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """FUSED fixture+decode (r11 optimization): bit-identical output to
    ``decode_png_stats(synthetic_png_media(ids))`` — both compositions
    call the same ``_png_fixture_blob`` / ``_png_stats_append`` row
    kernels — but as ONE ``mapInPandas`` stage over the narrow id
    column instead of two Python stages with a payload exchange between
    them. What that removes, per guide §4/§8: a full extra JVM↔Python
    Arrow crossing (the dominant fixed cost at toy scale, ~0.25 s per
    stage on this host) and the ``_spread`` round-robin shuffle whose
    rows are the encoded blobs (payload bytes now move ZERO times: each
    task synthesizes and immediately consumes its own blobs). The
    production decode path over stored payloads is unchanged
    (``decode_png_stats``); this fusion exists because the FIXTURE is a
    formula of the id, so the encode stage carries no information the
    kernel task cannot recompute locally."""

    def _make_and_decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {k: [] for k in PNG_STATS_SCHEMA.fieldNames()}
            for did in pdf[id_col]:
                did = int(did)
                _png_stats_append(out, did, _png_fixture_blob(did))
            yield pd.DataFrame({k: pd.array(v, dtype="int64") for k, v in out.items()})

    _set_arrow_batch(ids.sparkSession)
    return _ids_spread(ids.select(F.col(id_col))).mapInPandas(
        _make_and_decode, PNG_STATS_SCHEMA
    )


def synthetic_png_dhash(ids: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """FUSED fixture+dHash (r11 optimization): bit-identical output to
    ``image_dhash(synthetic_png_media(ids))`` via the shared
    ``_png_fixture_blob`` / ``_dhash_append`` row kernels; same
    one-Python-stage / zero-payload-movement rationale as
    ``synthetic_png_stats`` (see its docstring)."""

    def _make_and_hash(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {k: [] for k in DHASH_SCHEMA.fieldNames()}
            for did in pdf[id_col]:
                did = int(did)
                _dhash_append(out, did, _png_fixture_blob(did))
            yield pd.DataFrame({k: pd.array(v, dtype="int64") for k, v in out.items()})

    _set_arrow_batch(ids.sparkSession)
    return _ids_spread(ids.select(F.col(id_col))).mapInPandas(
        _make_and_hash, DHASH_SCHEMA
    )


def _extract_features(content: bytes, dims: int = 8) -> tuple[list[float], int, int]:
    """Deterministic fake 'decode': derives a feature vector + fake
    width/height from the bytes. Replace with a real decoder at deploy."""
    if content is None:
        return [0.0] * dims, 0, 0
    acc = [0] * dims
    for i, b in enumerate(content):
        acc[i % dims] = (acc[i % dims] * 31 + b) % 1_000_003
    n = max(len(content), 1)
    return [a / 1_000_003 for a in acc], n % 640 + 1, n % 480 + 1


FRAME_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("frame_idx", T.LongType(), False),
        T.StructField("n_frame_bytes", T.LongType(), True),
        T.StructField("frame_digest", T.StringType(), True),
    ]
)


def _spread(media: DataFrame) -> DataFrame:
    """Size-aware parallelism guard for the CPU-heavy kernel stages: a
    corpus that arrives in fewer partitions than cores (one fat parquet
    file, a single-row-group drop) would run the whole decode in one
    task. Round-robin repartition to the session's parallelism — one
    shuffle of the payload bytes, the standard price of parallelizing a
    decode; inputs already split wider pass through untouched. Caught
    empirically by tools/scale_smoke.py (10x replica arrives as ONE
    row-group -> one task doing 800k kernels)."""
    cores = media.sparkSession.sparkContext.defaultParallelism
    sel = media.select("media_id", "content")
    if sel.rdd.getNumPartitions() < cores:
        return sel.repartition(cores)
    return sel


def frame_sample(
    media: DataFrame, frame_bytes: int = 64, every: int = 2
) -> DataFrame:
    """Video-style frame sampling over an opaque binary payload: treat the
    content as fixed-size frames, keep every ``every``-th, emit one row per
    sampled frame with its digest — the mapInPandas shape a real
    ffmpeg-backed sampler would use (decode replaced by deterministic byte
    slicing, disclosed like ``decode_fake``). Binary stays inside the
    stage: downstream sees only (id, idx, size, digest)."""
    import hashlib

    def _frames(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, idxs, sizes, digests = [], [], [], []
            for mid, content in zip(pdf["media_id"], pdf["content"]):
                b = bytes(content) if content is not None else b""
                n_frames = -(-len(b) // frame_bytes)
                for i in range(0, n_frames, every):
                    fr = b[i * frame_bytes : (i + 1) * frame_bytes]
                    ids.append(mid)
                    idxs.append(i)
                    sizes.append(len(fr))
                    digests.append(hashlib.md5(fr).hexdigest())
            yield pd.DataFrame(
                {
                    "media_id": pd.array(ids, dtype="int64"),
                    "frame_idx": pd.array(idxs, dtype="int64"),
                    "n_frame_bytes": pd.array(sizes, dtype="int64"),
                    "frame_digest": pd.array(digests, dtype=object),
                }
            )

    _set_arrow_batch(media.sparkSession)
    return _spread(media).mapInPandas(_frames, FRAME_SCHEMA)


def decode_fake(media: DataFrame) -> DataFrame:
    """mapInPandas decode stage with production batch plumbing: Arrow
    batches in, feature rows out; binary column dropped on output so
    downstream stages shuffle features, not payloads."""

    def _decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats, ws, hs = [], [], []
            for content in pdf["content"]:
                f, w, h = _extract_features(bytes(content) if content is not None else None)
                feats.append(f)
                ws.append(w)
                hs.append(h)
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "feature": feats,
                    "width": pd.array(ws, dtype="int32"),
                    "height": pd.array(hs, dtype="int32"),
                }
            )

    _set_arrow_batch(media.sparkSession)
    return _spread(media).mapInPandas(_decode, FEATURE_SCHEMA)


POOL_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("cell_r", T.IntegerType(), False),
        T.StructField("cell_c", T.IntegerType(), False),
        T.StructField("mean_px", T.LongType(), True),
    ]
)


def resize_pool(media: DataFrame, k: int = 4) -> DataFrame:
    """Image RESIZE stage (average-pool to a k×k grid) with the decode
    step replaced by the disclosed deterministic byte interpretation:
    content bytes laid out row-major as a w×h "image" with
    ``w = ceil(sqrt(n))``, ``h = ceil(n/w)``, zero-padded to w·h. Pixel
    (r, c) pools into cell ``(r·k div h, c·k div w)``; the cell value is
    ``floor(sum/count)`` over the padded cell — all integer arithmetic,
    so the kernel is bit-replayable in SQL (gate ``mm_resize_pool``).

    The Spark-side plumbing is the production shape: Arrow-batched
    ``mapInPandas``, numpy vectorized pooling inside the batch, binary
    column consumed inside the stage and never shuffled — swap the byte
    interpretation for a PIL decode and this IS the thumbnail stage.
    Output: (media_id, cell_r, cell_c, mean_px), k² rows per media row.
    """
    import math

    import numpy as np

    def _pool(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, rs, cs, ms = [], [], [], []
            for mid, content in zip(pdf["media_id"], pdf["content"]):
                b = bytes(content) if content is not None else b""
                n = len(b)
                if n == 0:
                    continue
                w = math.isqrt(n - 1) + 1 if n > 0 else 1  # ceil(sqrt(n))
                h = -(-n // w)
                px = np.zeros(w * h, dtype=np.int64)
                px[:n] = np.frombuffer(b, dtype=np.uint8)
                grid = px.reshape(h, w)
                rows = (np.arange(h) * k) // h
                cols = (np.arange(w) * k) // w
                for cr in range(k):
                    rsel = grid[rows == cr]
                    if rsel.size == 0:
                        continue
                    for cc in range(k):
                        cell = rsel[:, cols == cc]
                        if cell.size == 0:
                            continue
                        ids.append(mid)
                        rs.append(cr)
                        cs.append(cc)
                        ms.append(int(cell.sum()) // cell.size)
            yield pd.DataFrame(
                {
                    "media_id": pd.array(ids, dtype="int64"),
                    "cell_r": pd.array(rs, dtype="int32"),
                    "cell_c": pd.array(cs, dtype="int32"),
                    "mean_px": pd.array(ms, dtype="int64"),
                }
            )

    _set_arrow_batch(media.sparkSession)
    return _spread(media).mapInPandas(_pool, POOL_SCHEMA)


AUDIO_FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("n_samples", T.LongType(), True),
        T.StructField("energy", T.LongType(), True),
        T.StructField("peak", T.LongType(), True),
        T.StructField("zero_crossings", T.LongType(), True),
    ]
)


def audio_features(media: DataFrame) -> DataFrame:
    """Audio feature extraction over the REAL WAV decode path: per clip,
    total energy Σs², peak |s|, and strict zero-crossing count
    (s[i-1]·s[i] < 0) — the cheap speech/music/silence discriminators a
    training pipeline gates audio clips on before expensive encoders.
    All three are exact integers from the decoded PCM, so the oracle
    replays them from the fixture's sample formula with no tolerance.
    Same Arrow-batched mapInPandas plumbing + ``_spread`` guard as the
    decode stages; fail-closed on malformed payloads."""
    import numpy as np

    from .wav import decode_wav

    def _feat(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {k: [] for k in AUDIO_FEATURES_SCHEMA.fieldNames()}
            for mid, content in zip(pdf["media_id"], pdf["content"]):
                _rate, _ch, _bits, samples = decode_wav(bytes(content))
                arr = np.asarray(samples, dtype=np.int64)
                out["media_id"].append(mid)
                out["n_samples"].append(arr.size)
                out["energy"].append(int((arr * arr).sum()))
                out["peak"].append(int(np.abs(arr).max()) if arr.size else 0)
                out["zero_crossings"].append(
                    int(((arr[:-1] * arr[1:]) < 0).sum()) if arr.size > 1 else 0
                )
            yield pd.DataFrame({k: pd.array(v, dtype="int64") for k, v in out.items()})

    _set_arrow_batch(media.sparkSession)
    return _spread(media).mapInPandas(_feat, AUDIO_FEATURES_SCHEMA)


IMAGE_FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("n_px", T.LongType(), True),
        T.StructField("n_pairs", T.LongType(), True),
        T.StructField("edge_count", T.LongType(), True),
    ]
)


def image_features(media: DataFrame, threshold: int = 32) -> DataFrame:
    """Image feature extraction over the REAL PNG decode path: horizontal
    edge density — adjacent same-row byte pairs whose absolute
    difference exceeds ``threshold`` — the cheap blur/blank/noise
    discriminator an image-corpus pipeline gates on before an expensive
    vision encoder (blank and heavily-compressed images have near-zero
    edge counts; noise saturates). Exact integers from decoded bytes, so
    the oracle replays the count from the fixture's pixel formula with
    no tolerance. Same Arrow plumbing + ``_spread`` guard; fail-closed."""
    import numpy as np

    from .png import decode_png

    def _feat(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {k: [] for k in IMAGE_FEATURES_SCHEMA.fieldNames()}
            for mid, content in zip(pdf["media_id"], pdf["content"]):
                w, h, c, px = decode_png(bytes(content))
                arr = np.frombuffer(px, dtype=np.uint8).astype(np.int64)
                stride = w * c
                idx = np.arange(arr.size - 1)
                same_row = (idx + 1) % stride != 0
                diffs = np.abs(arr[1:] - arr[:-1])
                out["media_id"].append(mid)
                out["n_px"].append(arr.size)
                out["n_pairs"].append(int(same_row.sum()))
                out["edge_count"].append(int(((diffs > threshold) & same_row).sum()))
            yield pd.DataFrame({k: pd.array(v, dtype="int64") for k, v in out.items()})

    _set_arrow_batch(media.sparkSession)
    return _spread(media).mapInPandas(_feat, IMAGE_FEATURES_SCHEMA)


DHASH_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("dhash_hi", T.LongType(), True),
        T.StructField("dhash_lo", T.LongType(), True),
    ]
)


def _dhash_append(out: dict, mid, content: bytes) -> None:
    """Decode one PNG payload, compute its 9x8 dHash, append the row to
    ``out`` — the single source of the per-image arithmetic, shared by
    the two-stage ``image_dhash`` and the fused ``synthetic_png_dhash``
    so the fused fixture path is bit-identical by construction."""
    import numpy as np

    from .png import decode_png

    GW, GH = 9, 8  # 9 columns -> 8 horizontal comparisons x 8 rows = 64 bits
    w, h, c, px = decode_png(bytes(content))
    gray = (
        np.frombuffer(px, dtype=np.uint8)[::c][: w * h]
        .reshape(h, w)
        .astype(np.int64)
    )
    rblk = (np.arange(h) * GH) // h
    cblk = (np.arange(w) * GW) // w
    flat = (rblk[:, None] * GW + cblk[None, :]).ravel()
    sums = np.zeros(GH * GW, dtype=np.int64)
    np.add.at(sums, flat, gray.ravel())
    cnts = np.bincount(flat, minlength=GH * GW).astype(np.int64)
    s = sums.reshape(GH, GW)
    n = cnts.reshape(GH, GW)
    bits = (s[:, : GW - 1] * n[:, 1:]) > (s[:, 1:] * n[:, : GW - 1])
    flatbits = bits.ravel().astype(np.int64)  # b = r*8 + c, 64 bits
    hi = int((flatbits[:32] << (31 - np.arange(32))).sum())
    lo = int((flatbits[32:] << (63 - np.arange(32, 64))).sum())
    out["media_id"].append(mid)
    out["dhash_hi"].append(hi)
    out["dhash_lo"].append(lo)


def image_dhash(media: DataFrame) -> DataFrame:
    """Perceptual difference-hash (dHash) over the REAL PNG decode path —
    the image analog of MinHash for near-duplicate detection: channel-0
    gray pixels are block-pooled onto a fixed 9x8 grid (cell = floor
    coordinate mapping, so any input geometry lands on the same grid),
    and each of the 64 bits records whether a cell's mean exceeds its
    right neighbor's. Two images with the same framing but different
    compression/resolution collide; the hash is an equi-join key, so
    corpus-scale image dedup is one groupBy — no pairwise compare.

    Everything is integer arithmetic: cell means are compared by
    cross-multiplication (sum_l*cnt_r > sum_r*cnt_l), never divided, so
    the 64-bit hash is bit-stable across engines and the oracle replays
    it from the fixture's pixel formula with no tolerance. Emitted as
    two 32-bit halves (hi, lo) to stay inside signed-long range on both
    engines. Empty cells (images narrower than the grid) compare as
    sum=0/cnt=0 — deterministic, and irrelevant at real image sizes.

    Same Arrow-batched mapInPandas plumbing + ``_spread`` guard as the
    other kernels; binary stays inside the stage."""

    def _hash(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {k: [] for k in DHASH_SCHEMA.fieldNames()}
            for mid, content in zip(pdf["media_id"], pdf["content"]):
                _dhash_append(out, mid, content)
            yield pd.DataFrame({k: pd.array(v, dtype="int64") for k, v in out.items()})

    _set_arrow_batch(media.sparkSession)
    return _spread(media).mapInPandas(_hash, DHASH_SCHEMA)


AUDIO_FP_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("n_frames", T.LongType(), True),
        T.StructField("fingerprint", T.LongType(), True),
    ]
)


def audio_fingerprint(media: DataFrame, frame: int = 8) -> DataFrame:
    """Energy-contour audio fingerprint over the REAL WAV decode — the
    audio analog of the image dHash: PCM samples are grouped into
    ``frame``-sample frames, each frame's exact integer energy Σs² is
    compared to its successor, and the up-to-63 comparison bits pack
    LSB-first into one long. Clips that differ only in gain-preserving
    re-encodes keep the same energy CONTOUR shape, so the fingerprint is
    an equi-join near-dup key (exact-match granularity here; production
    would band it like SimHash for hamming tolerance).

    All arithmetic is exact int64 (energies are sums of squares of
    16-bit samples; comparisons are integer), so the oracle replays the
    fixture's sample formula with no tolerance. Same Arrow-batched
    mapInPandas + ``_spread`` plumbing as the other kernels."""
    import numpy as np

    from .wav import decode_wav

    def _fp(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {k: [] for k in AUDIO_FP_SCHEMA.fieldNames()}
            for mid, content in zip(pdf["media_id"], pdf["content"]):
                _rate, _ch, _bits, samples = decode_wav(bytes(content))
                arr = np.asarray(samples, dtype=np.int64)
                n_frames = -(-arr.size // frame) if arr.size else 0
                pad = np.zeros(n_frames * frame, dtype=np.int64)
                pad[: arr.size] = arr
                energy = (pad * pad).reshape(n_frames, frame).sum(axis=1)
                bits = (energy[:-1] > energy[1:]).astype(np.int64)[:63]
                fp = int((bits << np.arange(bits.size)).sum()) if bits.size else 0
                out["media_id"].append(mid)
                out["n_frames"].append(n_frames)
                out["fingerprint"].append(fp)
            yield pd.DataFrame({k: pd.array(v, dtype="int64") for k, v in out.items()})

    _set_arrow_batch(media.sparkSession)
    return _spread(media).mapInPandas(_fp, AUDIO_FP_SCHEMA)
