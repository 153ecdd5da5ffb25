"""Multimodal columns: opaque binary payloads + typed metadata.

A training-data pipeline treats images/audio/video as ``binary``
columns with structured metadata (schemas.MEDIA) and derives numeric
feature vectors from them (schemas.MEDIA_FEATURES). The reference app
has no multimodal surface — this is a first-class extension per the
builder's brief.

Design for 100 TB:

- Metadata filters and payload profiling are pure native expressions
  (octet_length, md5, struct field access) — codegen'd, pushdown-
  friendly, and the profile is one map-side-combined aggregation.
- Feature extraction is the genuinely-Python step (real decoders are
  C libraries behind Python APIs), so it runs as ``mapInPandas``:
  Arrow-batched, zero shuffle (a pure map), schema declared up front.
  The decode is pluggable: ``byte_histogram`` is the deterministic
  fake used by the DuckDB value-hash oracle; ``audio_pcm`` is a REAL
  RIFF/WAVE PCM decode via the stdlib ``wave`` module (fully
  exercised in-container); ``image_rgb`` is a REAL decode via Pillow,
  imported lazily on the executor so environments without Pillow get
  a clear error instead of an import failure; only ``video_frames``
  still needs an absent codec stack and stays an explicit stub.
- Similarity over features reuses operators.similarity (broadcast
  query set, corpus scanned once).

The derivation in :func:`media_from_documents` builds a deterministic
media table out of the driver's ``documents`` parquet — every formula
is expressible in ANSI SQL, so the whole multimodal path (including
the mapInPandas feature extraction) is value-checked against a DuckDB
oracle rather than rows-only.
"""

from __future__ import annotations

from collections.abc import Iterable, Iterator

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from py_data_pipeline_app_spark import schemas
from py_data_pipeline_app_spark.operators.similarity import brute_force_topk
from py_data_pipeline_app_spark.partitioning import fan_out

# ---------------------------------------------------------------------------
# Deterministic media derivation (fixture source for the driver testdata)
# ---------------------------------------------------------------------------

_KINDS = ("image", "audio", "video")
_MIMES = {"image": "image/png", "audio": "audio/wav", "video": "video/mp4"}


def media_from_documents(docs: DataFrame) -> DataFrame:
    """Derive a deterministic MEDIA-shaped table from ``documents``.

    The payload is the document's UTF-8 bytes standing in for an
    encoded asset; kind/mime and the typed metadata are arithmetic on
    (doc_id, n_chars) — deterministic, engine-agnostic, and cheap.
    Nullability follows the modality: images have no duration or
    sample rate, audio has no dimensions."""
    # parsed expressions, not per-literal Column composition (~470
    # py4j round trips per construction before — the simhash64
    # rationale); element_at/map lookups render to the same
    # expressions the builders produced
    kinds = ",".join(f"'{k}'" for k in _KINDS)
    mimes = ",".join(f"'{k}','{v}'" for k, v in _MIMES.items())
    kind_sql = f"element_at(array({kinds}), CAST(doc_id % 3 AS INT) + 1)"
    return docs.select(
        F.col("doc_id").alias("media_id"),
        F.expr(f"{kind_sql} AS kind"),
        F.encode(F.col("text"), "UTF-8").alias("payload"),
        F.expr(f"map({mimes})[{kind_sql}] AS mime"),
        F.expr(
            f"struct("
            f"IF({kind_sql} != 'audio', CAST(64 + (n_chars % 97) * 8 AS INT), "
            f"CAST(NULL AS INT)) AS width, "
            f"IF({kind_sql} != 'audio', CAST(64 + (doc_id % 53) * 8 AS INT), "
            f"CAST(NULL AS INT)) AS height, "
            f"IF({kind_sql} != 'image', CAST(n_chars * 25 AS BIGINT), "
            f"CAST(NULL AS BIGINT)) AS duration_ms, "
            f"IF({kind_sql} = 'audio', CAST(16000 + (doc_id % 4) * 8000 AS INT), "
            f"CAST(NULL AS INT)) AS sample_rate) AS meta"
        ),
    )


# SQL mirror of media_from_documents for DuckDB oracles (documents is
# ASCII in the testdata, so VARCHAR functions see the same bytes).
MEDIA_SQL = """
  SELECT doc_id AS media_id,
         CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image'
                                      WHEN 1 THEN 'audio'
                                      ELSE 'video' END AS kind,
         text AS payload_text,
         CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image/png'
                                      WHEN 1 THEN 'audio/wav'
                                      ELSE 'video/mp4' END AS mime,
         CASE WHEN doc_id % 3 != 1
              THEN CAST(64 + (n_chars % 97) * 8 AS INT) END AS width,
         CASE WHEN doc_id % 3 != 1
              THEN CAST(64 + (doc_id % 53) * 8 AS INT) END AS height,
         CASE WHEN doc_id % 3 != 0
              THEN CAST(n_chars * 25 AS BIGINT) END AS duration_ms,
         CASE WHEN doc_id % 3 = 1
              THEN CAST(16000 + (doc_id % 4) * 8000 AS INT) END AS sample_rate
  FROM documents
"""


# ---------------------------------------------------------------------------
# Metadata filters + payload profiling (native expressions)
# ---------------------------------------------------------------------------


def filter_media(
    media: DataFrame,
    *,
    kinds: Iterable[str] | None = None,
    mimes: Iterable[str] | None = None,
    min_width: int | None = None,
    min_height: int | None = None,
    max_duration_ms: int | None = None,
) -> DataFrame:
    """Metadata predicate pushdown surface: every condition is a plain
    column predicate on kind/mime/meta.*, so against a parquet MEDIA
    table Catalyst pushes them into the scan and the (large) payload
    column is never materialized for rejected rows."""
    out = media
    if kinds is not None:
        out = out.filter(F.col("kind").isin(*kinds))
    if mimes is not None:
        out = out.filter(F.col("mime").isin(*mimes))
    if min_width is not None:
        out = out.filter(F.col("meta.width") >= min_width)
    if min_height is not None:
        out = out.filter(F.col("meta.height") >= min_height)
    if max_duration_ms is not None:
        out = out.filter(F.col("meta.duration_ms") <= max_duration_ms)
    return out


def payload_bytes(col: str = "payload") -> Column:
    return F.octet_length(F.col(col))


def payload_profile(media: DataFrame) -> DataFrame:
    """Per (kind, mime) payload statistics: asset counts, byte volume,
    exact-duplicate payloads by content hash.

    One hash-aggregation pass (map-side partials); md5 of the payload
    is computed per row before the shuffle, so only 16-byte digests and
    counters move. At 100 TB this is the scan-bound 'how much of what
    do I have' query — no joins, no windows."""
    per_row = media.select(
        "kind",
        "mime",
        payload_bytes().alias("_bytes"),
        F.md5(F.col("payload")).alias("_digest"),
    )
    return per_row.groupBy("kind", "mime").agg(
        F.count(F.lit(1)).alias("n_assets"),
        F.sum("_bytes").alias("total_bytes"),
        F.max("_bytes").alias("max_bytes"),
        F.count_distinct(F.col("_digest")).alias("n_distinct_payloads"),
        (F.count(F.lit(1)) - F.count_distinct(F.col("_digest"))).alias("n_dup_payloads"),
    )


# ---------------------------------------------------------------------------
# Feature extraction: mapInPandas with pluggable (stubbed) decoders
# ---------------------------------------------------------------------------


def _byte_histogram(payload: bytes, dim: int) -> list[float]:
    """Deterministic fake 'decode': normalized histogram of payload
    bytes bucketed into ``dim`` classes (byte // (256 // dim)). Stands
    in for a real embedding with the same shape contract: fixed-dim
    float32, norm > 0 for non-empty payloads."""
    import numpy as np

    if not payload:
        return [0.0] * dim
    b = np.frombuffer(payload, dtype=np.uint8)
    # bucket = byte * dim // 256 lands every byte in [0, dim) for any
    # dim <= 256 (identical to byte // (256 // dim) when dim divides
    # 256, which every oracle-mirrored use pins; the multiply form also
    # preserves full histogram mass for non-divisor dims)
    idx = np.minimum(b.astype(np.int32) * dim // 256, dim - 1)
    counts = np.bincount(idx, minlength=dim)[:dim]
    return [float(x) for x in (counts / len(b)).astype(np.float32)]


def _image_rgb(payload: bytes, dim: int) -> list[float]:
    """REAL image decode: bytes → Pillow → RGB array → per-channel
    intensity histogram (dim//3 buckets per channel, zero-padded to
    ``dim``), normalized by pixel count. Same shape contract as
    byte_histogram: fixed-dim float32, norm > 0 for decodable payloads.

    Pillow is imported lazily INSIDE the decoder (i.e. on the executor,
    once per python worker) so the module stays importable where Pillow
    is absent; in that case calling the decoder raises a clear
    NotImplementedError naming the missing dependency."""
    try:
        from PIL import Image
    except ModuleNotFoundError as exc:  # pragma: no cover - env without PIL
        raise NotImplementedError(
            "image_rgb decoding requires Pillow, which is not installed "
            "in this environment; the Spark-side plumbing (schema, Arrow "
            "batching, partitioning) is identical to byte_histogram."
        ) from exc
    import io

    import numpy as np

    if not payload:
        return [0.0] * dim
    with Image.open(io.BytesIO(payload)) as im:
        arr = np.asarray(im.convert("RGB"), dtype=np.uint8)
    return _rgb_histogram(arr, dim)


def _rgb_histogram(arr, dim: int) -> list[float]:
    """Per-channel intensity histogram of an (H, W, 3) uint8 array —
    the feature arithmetic of :func:`_image_rgb`, split from the PIL
    decode so it is executable (and pinned by an expected-vector test
    on a hand-written stdlib-decoded PNG) in environments without
    Pillow."""
    import numpy as np

    n_px = arr.shape[0] * arr.shape[1]
    buckets = max(1, dim // 3)
    out = np.zeros(dim, dtype=np.float32)
    for c in range(3):
        # pixel * buckets // 256 keeps every pixel inside [0, buckets):
        # the floor-divisor form overflows the top bucket when buckets
        # does not divide 256 (e.g. dim=9 → 255//85 = 3 of 0..2) and
        # bincount[:buckets] then silently drops top-intensity mass
        idx = np.minimum(
            arr[..., c].reshape(-1).astype(np.int32) * buckets // 256,
            buckets - 1,
        )
        counts = np.bincount(idx, minlength=buckets)[:buckets]
        lo = c * buckets
        if lo >= dim:
            break
        span = min(buckets, dim - lo)
        out[lo : lo + span] = (counts[:span] / n_px).astype(np.float32)
    return [float(x) for x in out]


def _audio_pcm(payload: bytes, dim: int) -> list[float]:
    """REAL audio decode: RIFF/WAVE PCM bytes → stdlib ``wave`` →
    normalized amplitude histogram over ``dim`` buckets spanning
    [-1, 1). Supports 8-bit unsigned and 16-bit signed PCM (the WAV
    encodings ``wave`` itself can emit); no third-party codec needed,
    so this path is fully exercised in-container (test_media)."""
    import io
    import wave

    import numpy as np

    if not payload:
        return [0.0] * dim
    with wave.open(io.BytesIO(payload)) as wf:
        width = wf.getsampwidth()
        raw = wf.readframes(wf.getnframes())
    if width == 2:
        samples = np.frombuffer(raw, dtype="<i2").astype(np.float64) / 32768.0
    elif width == 1:
        samples = (np.frombuffer(raw, dtype=np.uint8).astype(np.float64) - 128.0) / 128.0
    else:
        raise ValueError(f"unsupported PCM sample width {width} (want 1 or 2 bytes)")
    if samples.size == 0:
        return [0.0] * dim
    idx = np.clip(((samples + 1.0) / 2.0 * dim).astype(np.int64), 0, dim - 1)
    counts = np.bincount(idx, minlength=dim)[:dim]
    return [float(x) for x in (counts / samples.size).astype(np.float32)]


def _video_frames(payload: bytes, dim: int) -> list[float]:
    """REAL video decode: bytes → PyAV (ffmpeg bindings) → up to 8
    decoded frames → per-channel intensity histograms (same bucketing
    as :func:`_image_rgb`) averaged across frames. Same fixed-dim
    float32 contract as every other decoder.

    PyAV is imported lazily INSIDE the decoder (on the executor, once
    per python worker) so the module stays importable where the codec
    stack is absent; calling the decoder there raises a clear
    NotImplementedError naming the missing dependency — the same
    skip-if-missing pattern the Pillow image path proved out."""
    try:
        import av
    except ModuleNotFoundError as exc:  # pragma: no cover - env without pyav
        raise NotImplementedError(
            "video_frames decoding requires PyAV (ffmpeg bindings), which is "
            "not installed in this environment; the Spark-side plumbing "
            "(schema, Arrow batching, partitioning) is identical to "
            "byte_histogram."
        ) from exc
    import io

    import numpy as np

    if not payload:
        return [0.0] * dim

    def frames():
        with av.open(io.BytesIO(payload)) as container:
            stream = next(s for s in container.streams if s.type == "video")
            for i, frame in enumerate(container.decode(stream)):
                if i >= 8:
                    break
                yield frame.to_ndarray(format="rgb24")

    return _frames_histogram(frames(), dim)


def _frames_histogram(frames, dim: int) -> list[float]:
    """Mean per-channel intensity histogram over an iterable of
    (H, W, 3) uint8 frame arrays — the feature arithmetic of
    :func:`_video_frames`, split from the PyAV decode (the
    :func:`_rgb_histogram` pattern) so it is executable and pinned by
    an expected-vector test in environments without the codec stack.
    Accumulates in float64, averages, then casts to float32 — the
    order the decoder always used, kept verbatim so pinned vectors
    stay valid when PyAV appears."""
    import numpy as np

    buckets = max(1, dim // 3)
    acc = np.zeros(dim, dtype=np.float64)
    n_used = 0
    for arr in frames:
        n_px = arr.shape[0] * arr.shape[1]
        for c in range(3):
            idx = np.minimum(
                arr[..., c].reshape(-1).astype(np.int32) * buckets // 256,
                buckets - 1,
            )
            counts = np.bincount(idx, minlength=buckets)[:buckets]
            lo = c * buckets
            if lo >= dim:
                break
            span = min(buckets, dim - lo)
            acc[lo : lo + span] += counts[:span] / n_px
        n_used += 1
    if not n_used:
        return [0.0] * dim
    return [float(x) for x in (acc / n_used).astype(np.float32)]


#: Pluggable decoders. ``byte_histogram`` is the deterministic fake used
#: by tests and oracles. ``audio_pcm`` (stdlib wave), ``image_rgb``
#: (Pillow) and ``video_frames`` (PyAV) are REAL decoders behind the
#: same mapInPandas plumbing — the third-party codecs import lazily on
#: the executor and raise a clear NotImplementedError where absent.
DECODERS = {
    "byte_histogram": _byte_histogram,
    "image_rgb": _image_rgb,
    "audio_pcm": _audio_pcm,
    "video_frames": _video_frames,
}


def _n_frames(kind: str, duration_ms) -> int:
    # images are single-frame; time media at 25 fps (40 ms/frame)
    if kind == "image" or duration_ms is None:
        return 1
    return max(1, int(duration_ms) // 40)


def extract_features(
    media: DataFrame, *, dim: int = 16, decoder: str = "byte_histogram"
) -> DataFrame:
    """MEDIA → MEDIA_FEATURES via ``mapInPandas``.

    A pure map — no shuffle; Arrow moves (media_id, kind, payload,
    meta) into pandas in batches and float32 feature arrays back. The
    decoder runs once per asset inside the batch loop; real decoders
    (see DECODERS) drop in without touching the plumbing."""
    if decoder not in DECODERS:
        raise ValueError(f"Unknown decoder {decoder!r}; have {sorted(DECODERS)}")
    decode = DECODERS[decoder]

    def gen(batches: Iterator) -> Iterator:
        import pandas as pd

        for pdf in batches:
            durations = [
                None if m is None else m.get("duration_ms") for m in pdf["meta"]
            ]
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "kind": pdf["kind"],
                    "feature": [decode(p or b"", dim) for p in pdf["payload"]],
                    "n_frames": [
                        _n_frames(k, d) for k, d in zip(pdf["kind"], durations)
                    ],
                }
            )

    # project to the columns gen() reads (mime would otherwise ride the
    # Arrow boundary for nothing — guide §4.1) and fan_out the decode
    return fan_out(
        media.select("media_id", "kind", "payload", "meta")
    ).mapInPandas(gen, schema=schemas.MEDIA_FEATURES)


def resize_media(
    media: DataFrame, *, width: int, height: int, codec: str = "bytes"
) -> DataFrame:
    """Resize image payloads to ``width``×``height``, updating the
    typed metadata in lockstep — the remaining step of the brief's
    decode / feature-extract / resize / frame-sample quartet.

    Same mapInPandas plumbing as :func:`extract_features` (pure map,
    Arrow-batched, zero shuffle); non-image rows pass through
    untouched. Two codecs:

    - ``"pillow"`` — REAL decode → nearest-neighbor resize → PNG
      re-encode via Pillow (lazily imported on the executor; raises a
      clear NotImplementedError where absent).
    - ``"bytes"`` (default) — deterministic raster resample over the
      raw payload byte stream: output byte k gathers input byte
      ``floor(k·len/out_len)`` with out_len = width·height. This is
      the codec-free stand-in with the same batch shape and metadata
      contract, and — because the testdata payloads are ASCII — it is
      replayed byte-for-byte by the DuckDB oracle
      (``media_resize_profile``)."""
    if codec not in ("bytes", "pillow"):
        raise ValueError(f"Unknown codec {codec!r}; have ['bytes', 'pillow']")

    def resize_bytes(payload: bytes) -> bytes:
        out_len = width * height
        if not payload:
            return b""
        n = len(payload)
        return bytes(payload[(k * n) // out_len] for k in range(out_len))

    def resize_pillow(payload: bytes) -> bytes:
        try:
            from PIL import Image
        except ModuleNotFoundError as exc:  # pragma: no cover - env without PIL
            raise NotImplementedError(
                "pillow codec requires Pillow; use codec='bytes' for the "
                "deterministic stand-in with identical plumbing"
            ) from exc
        import io

        with Image.open(io.BytesIO(payload)) as im:
            out = im.convert("RGB").resize((width, height), Image.NEAREST)
        buf = io.BytesIO()
        out.save(buf, format="PNG")
        return buf.getvalue()

    fn = resize_bytes if codec == "bytes" else resize_pillow

    def gen(batches: Iterator) -> Iterator:
        for pdf in batches:
            is_img = pdf["kind"] == "image"
            pdf = pdf.copy()
            pdf["payload"] = [
                fn(bytes(p)) if img and p is not None else p
                for p, img in zip(pdf["payload"], is_img)
            ]
            pdf["meta"] = [
                {**(m or {}), "width": width, "height": height} if img else m
                for m, img in zip(pdf["meta"], is_img)
            ]
            yield pdf

    return media.mapInPandas(gen, schema=media.schema)


def media_feature_topk(
    features: DataFrame, queries: DataFrame, *, k: int = 5
) -> DataFrame:
    """Nearest media assets by cosine over extracted features —
    similarity search plumbing reused verbatim from
    operators.similarity (broadcast queries, single corpus scan)."""
    return brute_force_topk(
        features.select("media_id", "feature"),
        queries,
        k=k,
        id_col="media_id",
        vec_col="feature",
    )


def sample_frames(
    media: DataFrame, *, every: int = 5, fps_ms: int = 40, decode: bool = False
) -> DataFrame:
    """Deterministic frame sampling for time-based media: every
    ``every``-th frame of each video/audio asset becomes a row
    (media_id, kind, frame_idx, ts_ms, frame_digest) — the fan-out a
    vision/audio encoder consumes downstream.

    Default mode is a pure generate: the frame-index sequence is
    arithmetic on the asset's duration, the digest is a per-frame
    content fingerprint (md5 of payload + index) standing in for the
    decoded frame hash. No shuffle; output rows ~ n_frames / every,
    generated inside the scan task that read the asset.

    ``decode=True`` switches VIDEO rows to REAL per-frame digests:
    PyAV decodes the container inside a mapInPandas map (lazy executor
    import, loud NotImplementedError where the codec stack is absent)
    and the digest becomes md5 of each sampled frame's rgb24 pixels —
    same output schema, same no-shuffle shape, frame indices now from
    the actual decoded stream. Audio assets keep the arithmetic
    contract in either mode (their "frames" are fixed-length windows,
    not codec frames). Decode-mode edges: an EMPTY payload yields zero
    frames (arithmetic mode, working from metadata alone, still emits
    rows — the one row-count divergence between modes); a kind='video'
    row whose container holds no video stream raises a ValueError
    naming the media_id (mislabeled input should fail loudly, not as
    an opaque task error)."""
    if decode:
        return _sample_frames_decoded(media, every=every, fps_ms=fps_ms)
    timed = media.filter(F.col("kind") != "image").select(
        "media_id",
        "kind",
        F.decode(F.col("payload"), "UTF-8").alias("_ptext"),
        F.greatest(
            F.floor(F.col("meta.duration_ms") / fps_ms).cast("long"), F.lit(1)
        ).alias("_n_frames"),
    )
    idxs = F.sequence(
        F.lit(0), (F.col("_n_frames") - 1).cast("int"), F.lit(every)
    )
    return timed.select(
        "media_id",
        "kind",
        F.explode(idxs).alias("frame_idx"),
        "_ptext",
    ).select(
        "media_id",
        "kind",
        "frame_idx",
        (F.col("frame_idx") * fps_ms).cast("long").alias("ts_ms"),
        F.md5(
            F.concat(F.col("_ptext"), F.lit("#"), F.col("frame_idx").cast("string"))
        ).alias("frame_digest"),
    )


def _sample_frames_decoded(
    media: DataFrame, *, every: int, fps_ms: int
) -> DataFrame:
    """decode=True backend of :func:`sample_frames`: video rows get
    md5-of-rgb24-pixels digests from a real PyAV decode; audio rows
    keep the arithmetic digest (union of the two paths, same schema)."""
    out_schema = (
        "media_id long, kind string, frame_idx int, ts_ms long, "
        "frame_digest string"
    )

    def gen(batches: Iterator) -> Iterator:
        import hashlib
        import io

        import pandas as pd

        try:
            import av
        except ModuleNotFoundError as exc:  # pragma: no cover - env w/o pyav
            raise NotImplementedError(
                "sample_frames(decode=True) requires PyAV (ffmpeg bindings), "
                "which is not installed in this environment; the default "
                "arithmetic-digest mode has the identical schema and shape."
            ) from exc

        for pdf in batches:
            rows = []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                if not payload:
                    # nothing to decode: zero frames for this asset
                    # (arithmetic mode, which fabricates digests from
                    # metadata alone, still emits rows here — the one
                    # documented row-count divergence between modes)
                    continue
                with av.open(io.BytesIO(bytes(payload))) as container:
                    stream = None
                    for s in container.streams:
                        if s.type == "video":
                            stream = s
                            break
                    if stream is None:
                        # a bare next() here would StopIteration inside
                        # the generator -> opaque PEP-479 RuntimeError;
                        # a kind='video' row without a video stream is
                        # mislabeled input worth naming loudly
                        raise ValueError(
                            f"media_id={mid}: kind='video' but the container "
                            "has no video stream (mislabeled or corrupt asset)"
                        )
                    for i, frame in enumerate(container.decode(stream)):
                        if i % every:
                            continue
                        digest = hashlib.md5(
                            frame.to_ndarray(format="rgb24").tobytes()
                        ).hexdigest()
                        rows.append((mid, "video", i, i * fps_ms, digest))
            yield pd.DataFrame(
                rows,
                columns=["media_id", "kind", "frame_idx", "ts_ms", "frame_digest"],
            )

    video = fan_out(
        media.filter(F.col("kind") == "video").select("media_id", "payload")
    )
    decoded = video.mapInPandas(gen, schema=out_schema)
    audio = sample_frames(
        media.filter(F.col("kind") == "audio"), every=every, fps_ms=fps_ms
    ).select(
        "media_id",
        "kind",
        F.col("frame_idx").cast("int").alias("frame_idx"),
        "ts_ms",
        "frame_digest",
    )
    return decoded.unionByName(audio)


# ---------------------------------------------------------------------------
# Image perceptual-hash near-dup (dHash + banded hamming blocking)
# ---------------------------------------------------------------------------


def _overlap_matrix(n_pixels: int, n_cells: int):
    """Integer pixel↔cell overlap matrix (n_cells, n_pixels), scaled
    by ``n_cells`` so every entry is exact: entry (c, p) is
    ``n_cells ×`` the length of the intersection of pixel interval
    [p, p+1) with cell interval [c·n/n_cells, (c+1)·n/n_cells).
    Scaling clears the only fraction in the geometry, so the matrix —
    and any weighted sum of integer pixel values through it — is
    exact integer arithmetic, replayable verbatim by a SQL oracle."""
    import numpy as np

    p = np.arange(n_pixels, dtype=np.int64)
    c = np.arange(n_cells, dtype=np.int64)[:, None]
    ov = np.minimum((p + 1) * n_cells, (c + 1) * n_pixels) - np.maximum(
        p * n_cells, c * n_pixels
    )
    return np.maximum(ov, 0)


def _downsample_gray(arr, rows: int = 8, cols: int = 9):
    """Box-mean downsample of a 2-D grayscale array to (rows, cols) —
    the scale-normalization half of dHash, PIL-free by design (the
    `_rgb_histogram` discipline: decode and arithmetic split, so the
    arithmetic is executable and pinned in environments without the
    codec). Fractional cell boundaries are handled by EXACT integer
    overlap weights (:func:`_overlap_matrix`): each cell mean is
    ``(OY · A · OXᵀ) / (h·w)`` where the overlap matrices are scaled
    integers, so for integer-valued pixels every scaled cell sum is an
    exact int64 (all partial sums are non-negative integers < 2⁵³ —
    order-independent in IEEE float64) and, because every cell has
    equal area, the dHash comparisons of adjacent cells reduce to
    exact INTEGER comparisons. That makes the hash bit-deterministic
    across engines (ties are exact zeros, never float-noise coin
    flips) and lets the DuckDB gate oracle replay the full pipeline in
    integer SQL. Box means over a W×H and a 2W×2H rendering of the
    same image remain near-identical — which is why dHash survives
    resizing."""
    import numpy as np

    a = np.asarray(arr, dtype=np.float64)
    if a.ndim != 2:
        raise ValueError(f"expected 2-D grayscale array, got shape {a.shape}")
    h, w = a.shape
    oy = _overlap_matrix(h, rows).astype(np.float64)
    ox = _overlap_matrix(w, cols).astype(np.float64)
    return (oy @ a @ ox.T) / (h * w)


def _dhash_bits(grid) -> int:
    """64-bit dHash of an (8, 9) grayscale grid: bit (r, c) — MSB
    first, row-major — is set iff cell (r, c) is brighter than its
    right neighbor. Gradient signs, not absolute intensities, so the
    hash survives brightness/contrast shifts and (via the box-mean
    grid) resizing and re-encoding. Returned as a SIGNED 64-bit int
    (Spark LongType two's-complement) so the column lands in parquet
    without an unsigned cast."""
    import numpy as np

    g = np.asarray(grid, dtype=np.float64)
    if g.shape != (8, 9):
        raise ValueError(f"expected an (8, 9) grid, got {g.shape}")
    v = 0
    for r in range(8):
        for c in range(8):
            v = (v << 1) | int(g[r, c] > g[r, c + 1])
    return v - (1 << 64) if v >= (1 << 63) else v


def _dhash_bits_batch(grids):
    """Vectorized :func:`_dhash_bits` over a STACK of (8, 9) grids —
    bit-identical by construction (the same ``>`` comparisons, packed
    MSB-first row-major, reinterpreted as signed int64), but the
    128-Python-int-ops-per-asset loop becomes three numpy ops over the
    whole Arrow batch. This is what makes per-FRAME video hashing
    cheap: 20k sampled frames at sf0.1 cost ~2.6M scalar loop
    iterations through the scalar path. Returns an int64 array of
    length n."""
    import numpy as np

    g = np.asarray(grids, dtype=np.float64)
    if g.ndim != 3 or g.shape[1:] != (8, 9):
        raise ValueError(f"expected a stack of (8, 9) grids, got {g.shape}")
    if not g.shape[0]:
        return np.empty(0, dtype=np.int64)
    bits = g[:, :, :8] > g[:, :, 1:9]  # (n, 8, 8): row-major, MSB first
    packed = np.packbits(bits, axis=2)  # (n, 8, 1): one byte per row
    # row 0's byte is the MOST significant (bit (0,0) at position 63):
    # big-endian u64 per asset, then reinterpret bits as two's
    # complement — exactly _dhash_bits' signed packing
    u = np.frombuffer(packed.tobytes(), dtype=">u8").astype(np.uint64)
    return u.view(np.int64)


def _payload_gray(payload: bytes):
    """Deterministic fake 'decode' for the dHash path: payload bytes
    cycled into a 24×27 grayscale grid (3× the dHash grid in each
    axis, so the box-mean downsample does real averaging). Stands in
    for a real image decode with the same contract — a 2-D float
    array — and makes the full hash→band→verify pipeline executable
    and value-testable in environments without Pillow (the
    byte_histogram precedent). Identical payloads hash identically;
    the hash is NOT perceptual for arbitrary bytes (only the real
    decoder gives that), which is fine for plumbing tests."""
    import numpy as np

    if not payload:
        return np.zeros((24, 27), dtype=np.float64)
    b = np.frombuffer(bytes(payload), dtype=np.uint8).astype(np.float64)
    reps = -(-(24 * 27) // len(b))
    return np.tile(b, reps)[: 24 * 27].reshape(24, 27)


def _image_gray(payload: bytes):
    """REAL image decode for the dHash path: bytes → Pillow →
    grayscale ("L") pixel array. Decode ONLY — the downsample and bit
    extraction are the shared PIL-free arithmetic
    (:func:`_downsample_gray` / :func:`_dhash_bits`), so the fake and
    real decoders produce hashes through identical arithmetic and the
    pinned expected-bit tests hold for both. Lazy executor import,
    loud NotImplementedError where Pillow is absent (the _image_rgb
    pattern)."""
    try:
        from PIL import Image
    except ModuleNotFoundError as exc:  # pragma: no cover - env without PIL
        raise NotImplementedError(
            "image_gray decoding requires Pillow, which is not installed "
            "in this environment; the payload_gray fake exercises the "
            "identical downsample/dhash arithmetic and Spark plumbing."
        ) from exc
    import io

    import numpy as np

    if not payload:
        return np.zeros((24, 27), dtype=np.float64)
    with Image.open(io.BytesIO(bytes(payload))) as im:
        return np.asarray(im.convert("L"), dtype=np.float64)


def _payload_pcm_energy(payload: bytes):
    """Deterministic integer AUDIO fake decoder for the dHash path —
    the ``payload_gray`` precedent in PCM-sample space, so the full
    audio dedup chain (hash → band → hamming verify → components →
    canonicals) is replayable in pure integer SQL by a DuckDB oracle
    (the driver-gate requirement the real FFT spectrogram can never
    meet).

    Shape mirrors :func:`_wav_spectrogram_gray`'s contract without the
    transform: payload bytes are read as little-endian int16 samples
    (trailing odd byte dropped), the clip is cut into 24 equal
    TIME WINDOWS with pure-integer bounds (``w*m // 24`` — never
    float linspace, so SQL reproduces the same split bit-for-bit),
    and within a window "band" ``b`` holds the summed |sample| energy
    of the samples whose index ≡ b (mod 27) — a deterministic comb
    standing in for frequency bands. All values are exact integers
    (|int16| sums < 2⁵³), so the shared float64 box-mean/gradient-bit
    arithmetic downstream is exact, the oracle-replay property
    ``media_dhash_canonicals`` relies on. Byte-identical payloads
    collide at hamming 0; it makes NO perceptual claim — use
    ``wav_spectrogram`` for real audio robustness."""
    import numpy as np

    windows, bands = 24, 27
    if not payload or len(payload) < 2:
        return np.zeros((windows, bands), dtype=np.float64)
    b = np.frombuffer(bytes(payload), dtype=np.uint8)
    m = len(b) // 2
    s = np.abs(b[: 2 * m].view("<i2").astype(np.float64))
    out = np.zeros((windows, bands), dtype=np.float64)
    for w in range(windows):
        lo, hi = (w * m) // windows, ((w + 1) * m) // windows
        if hi > lo:
            out[w] = np.bincount(
                np.arange(lo, hi) % bands,
                weights=s[lo:hi],
                minlength=bands,
            )
    return out


def _wav_spectrogram_gray(payload: bytes):
    """REAL audio decode for the dHash path (round 14): RIFF/WAVE PCM
    bytes → stdlib ``wave`` → a 24×27 log-energy SPECTROGRAM grid —
    time down the rows (24 equal windows of the clip), frequency
    across the columns (27 log-spaced bands, 100 Hz → min(3.5 kHz,
    Nyquist)) — which the shared box-mean/gradient-bit arithmetic
    turns into a Haitsma–Kalker-style audio fingerprint: dHash of a
    spectrogram IS sign-of-adjacent-band-energy-difference, the
    classic robust audio hash bit. Design choices, each measured on
    chirp fixtures (test_media):

    - amplitudes are RMS-normalized before the FFT, so the hash is
      volume-invariant (gain scales every band equally; measured:
      0.3× gain flips 0 of 128 bits);
    - band edges are absolute Hz (not Nyquist fractions), so the same
      signal re-sampled at a different rate lands in the same bands
      (measured: 16 kHz → 8 kHz re-encode flips 7/128 — inside the
      8-band co-block guarantee at ``max_hamming=7``);
    - per-band energy gets a small absolute floor (1e-4) before the
      log, so content-free bands sit at a CONSTANT value — equal
      adjacent cells are exact ties the integer-overlap downsample
      resolves deterministically to 0-bits instead of noise coin
      flips (8-bit PCM re-encode: 1/128 flips; 2% additive noise:
      9/128).

    Like every perceptual hash, robustness needs gradients: a clip of
    pure stationary tones has a time-constant spectrogram whose
    vertical bits are noise-determined (the flat-image caveat,
    verbatim). The stdlib codec means this REAL decode path runs
    everywhere — no gate, no fake twin needed; a non-WAV payload
    raises ``wave.Error`` loudly (feed ``kind='audio'`` assets only).
    All PCM widths land: 8/16/32-bit natively, 24-bit by widening each
    3-byte frame to int32 (RMS normalization makes the scale moot);
    a degenerate rate ≤ 200 Hz (Nyquist at/below the lowest band
    edge) hashes as the constant floor grid instead of feeding
    descending edges to searchsorted.
    Compose it through the standard stack: ``media_dhash(audio,
    decoder="wav_spectrogram")`` → pairs/canonicals/incremental index
    unchanged."""
    import io
    import wave

    import numpy as np

    if not payload:
        return np.zeros((24, 27), dtype=np.float64)
    windows, bands, f_lo, f_hi, floor = 24, 27, 100.0, 3500.0, 1e-4
    with wave.open(io.BytesIO(bytes(payload))) as wf:
        rate = wf.getframerate()
        n, ch, width = wf.getnframes(), wf.getnchannels(), wf.getsampwidth()
        raw = wf.readframes(n)
    if width == 3:
        # 24-bit PCM (a common studio WAV variant): widen each 3-byte
        # little-endian frame to int32 — pad a zero low byte, then an
        # arithmetic >>8 restores magnitude AND sign
        b = np.frombuffer(raw, dtype=np.uint8).reshape(-1, 3)
        x = (
            np.column_stack([np.zeros(len(b), dtype=np.uint8), b])
            .view("<i4")
            .ravel()
            .astype(np.float64)
        ) / 256.0
    else:
        dtype = {1: np.uint8, 2: "<i2", 4: "<i4"}.get(width)
        if dtype is None:
            raise ValueError(f"unsupported PCM sample width {width}")
        x = np.frombuffer(raw, dtype=dtype).astype(np.float64)
        if width == 1:
            x -= 128.0
    if ch > 1:
        x = x.reshape(-1, ch).mean(axis=1)
    if not x.size:
        return np.zeros((windows, bands), dtype=np.float64)
    rms = np.sqrt((x**2).mean()) or 1.0
    x = x / rms
    out = np.full((windows, bands), np.log10(floor), dtype=np.float64)
    if rate / 2.0 <= f_lo:
        # Nyquist at or below the lowest band edge (rate ≤ 200 Hz):
        # no analyzable band exists — geomspace would DESCEND and
        # break searchsorted — so the clip hashes as the constant
        # floor grid (deterministic, like the empty payload)
        return out
    bounds = np.linspace(0, len(x), windows + 1).astype(int)
    edges = np.geomspace(f_lo, min(f_hi, rate / 2.0), bands + 1)
    for w in range(windows):
        seg = x[bounds[w] : bounds[w + 1]]
        if not seg.size:
            continue
        mag2 = np.abs(np.fft.rfft(seg)) ** 2 / seg.size
        idx = np.searchsorted(edges, np.fft.rfftfreq(seg.size, 1.0 / rate))
        sums = np.bincount(idx, weights=mag2, minlength=bands + 2)
        counts = np.bincount(idx, minlength=bands + 2)
        band_e = sums[1 : bands + 1] / np.maximum(counts[1 : bands + 1], 1)
        out[w] = np.log10(floor + band_e)
    return out


#: dHash decoders: payload_gray is the deterministic in-container fake,
#: image_gray the real Pillow decode, wav_spectrogram the real stdlib
#: WAV audio fingerprint, payload_pcm the deterministic integer audio
#: fake (SQL-oracle-able) — all behind identical downstream arithmetic.
DHASH_DECODERS = {
    "payload_gray": _payload_gray,
    "image_gray": _image_gray,
    "wav_spectrogram": _wav_spectrogram_gray,
    "payload_pcm": _payload_pcm_energy,
}


def media_dhash(
    media: DataFrame, *, decoder: str = "payload_gray", axes: str = "both"
) -> DataFrame:
    """(media_id, dhash[, dhash_v]): perceptual difference-hash per
    asset via ``mapInPandas`` — the image-dedup signature the near-dup
    blocking consumes. A pure Arrow-batched map (decode is a C
    library behind Python, the sanctioned boundary — the
    extract_features plumbing verbatim); no shuffle, schema declared
    up front. Filter to ``kind='image'`` first when the table is
    mixed-modality; the hash itself is total on any payload.

    ``axes="both"`` — the DEFAULT — adds the VERTICAL gradient hash
    (``dhash_v``, the transposed 9×8 grid through the same bit
    arithmetic): 128 signal bits total, the standard two-axis dHash.
    This is the CORPUS-SCALE signature and therefore the production
    default (measured rule: scale configs are defaults, fixed/eval
    configs are opt-in — the `lsh_config_for` lesson):
    :func:`dhash_near_dup_pairs` bands a two-axis hash into 16-bit
    buckets (occupancy N/65536 instead of the 64-bit hash's N/256),
    which the ×100 rehearsal measured as the difference between
    bounded and quadratic candidate mass (28.8 s vs 150.3 s,
    BENCH_sf10). ``axes="horizontal"`` keeps the classic 64-bit
    single-axis hash for evals and third-party interop (it is what
    external dHash tools emit); scale buys wider buckets with MORE
    signal bits, never with fewer bands."""
    if decoder not in DHASH_DECODERS:
        raise ValueError(
            f"Unknown decoder {decoder!r}; have {sorted(DHASH_DECODERS)}"
        )
    if axes not in ("horizontal", "both"):
        raise ValueError(f"axes must be 'horizontal' or 'both', got {axes!r}")
    decode = DHASH_DECODERS[decoder]
    both = axes == "both"

    def gen(batches: Iterator) -> Iterator:
        import numpy as np
        import pandas as pd

        for pdf in batches:
            grays = [decode(p or b"") for p in pdf["payload"]]
            # batch the bit extraction across the Arrow batch (the
            # downsample stays per-asset: decoded shapes vary)
            hg = (
                np.stack([_downsample_gray(g) for g in grays])
                if grays
                else np.empty((0, 8, 9))
            )
            cols = {
                "media_id": pdf["media_id"],
                "dhash": _dhash_bits_batch(hg),
            }
            if both:
                # vertical gradients: downsample to (9, 8), transpose
                # into the (8, 9) shape the shared bit extractor pins
                vg = (
                    np.stack(
                        [_downsample_gray(g, rows=9, cols=8).T for g in grays]
                    )
                    if grays
                    else np.empty((0, 8, 9))
                )
                cols["dhash_v"] = _dhash_bits_batch(vg)
            yield pd.DataFrame(cols)

    schema = "media_id long, dhash long" + (", dhash_v long" if both else "")
    # fan_out: decode+hash is the expensive narrow stage; an
    # unsplittable one-file scan would pin it to one core (guide §2.5)
    return fan_out(media.select("media_id", "payload")).mapInPandas(
        gen, schema=schema
    )


def _dhash_hash_cols(hashes: DataFrame, hash_col: str = "dhash") -> list[str]:
    """The signature columns present on a dHash frame: the horizontal
    hash always, plus ``dhash_v`` when the frame carries the two-axis
    signature (the production default)."""
    return [hash_col] + (["dhash_v"] if "dhash_v" in hashes.columns else [])


def dhash_band_buckets(
    hashes: DataFrame,
    *,
    bands: int = 8,
    id_col: str = "media_id",
    hash_col: str = "dhash",
) -> DataFrame:
    """(id, band, bucket) rows from a dHash signature frame: the
    signature's 64 (single-axis) or 128 (two-axis) bits split into
    ``bands`` disjoint segments — drawn half from each hash column for
    a two-axis frame — each segment becoming a band's bucket key. One
    Generate (explode of a ``bands``-element literal-shaped array),
    pure bit arithmetic (shiftrightunsigned + mask), no shuffle.
    Shared by the batch pairs path (:func:`dhash_near_dup_pairs`) and
    the incremental index fold
    (:func:`~py_data_pipeline_app_spark.operators.media_dedup_incremental.incremental_dhash_fold`)
    so both sides bucket identically BY CONSTRUCTION — the
    dedup.band_buckets discipline in hamming space."""
    hash_cols = _dhash_hash_cols(hashes, hash_col)
    return hashes.select(
        F.col(id_col),
        F.explode(_dhash_band_key_array(hash_cols, bands)).alias("bk"),
    ).select(
        id_col, F.col("bk.band").alias("band"), F.col("bk.bucket").alias("bucket")
    )


def _dhash_band_key_array(hash_cols: list[str], bands: int) -> Column:
    """The banding expression itself: an array of ``bands``
    (band, bucket) structs — disjoint bit segments drawn evenly from
    ``hash_cols`` via shiftrightunsigned + mask (pure codegen). Shared
    by asset-level blocking (:func:`dhash_band_buckets`) and per-frame
    video blocking (:func:`video_near_dup_pairs`) so every dHash
    consumer bands identically by construction."""
    per_hash = bands // len(hash_cols)
    if bands % len(hash_cols) or per_hash == 0 or 64 % per_hash:
        raise ValueError(
            f"bands must split evenly over {len(hash_cols)} hash column(s) "
            f"into widths dividing 64, got bands={bands}"
        )
    seg = 64 // per_hash
    mask = (1 << seg) - 1
    return F.array(
        *[
            F.struct(
                F.lit(hi * per_hash + i).alias("band"),
                F.expr(f"shiftrightunsigned({hc}, {i * seg})")
                .bitwiseAND(F.lit(mask))
                .alias("bucket"),
            )
            for hi, hc in enumerate(hash_cols)
            for i in range(per_hash)
        ]
    )


def dhash_hamming(
    hash_cols: Iterable[str], a_prefix: str = "_ha", b_prefix: str = "_hb"
) -> Column:
    """Exact hamming distance between two signatures spread over
    ``hash_cols``-indexed column pairs (``{a_prefix}{j}`` vs
    ``{b_prefix}{j}``): one XOR + bit_count per axis, summed — pure
    codegen, no Python."""
    ham = None
    for j, _ in enumerate(hash_cols):
        term = F.expr(f"bit_count({a_prefix}{j} ^ {b_prefix}{j})")
        ham = term if ham is None else ham + term
    return ham


def dhash_near_dup_pairs(
    hashes: DataFrame,
    *,
    max_hamming: int = 6,
    bands: int = 8,
    id_col: str = "media_id",
    hash_col: str = "dhash",
    max_bucket_size: int | None = 1000,
) -> DataFrame:
    """Image near-dup pairs from dHash signatures: band each 64-bit
    hash into ``bands`` byte-buckets, take candidates from shared
    band buckets (the grouped chunk-capped expansion every LSH path
    here uses — never a bucket self-join), and verify by exact
    hamming distance ≤ ``max_hamming`` (one XOR + bit_count, pure
    codegen). Returns (id_a, id_b, hamming).

    Recall is GUARANTEED, not probabilistic, in the regime that
    matters: two signatures within hamming ``h < bands`` differ in at
    most h of their ``bands`` disjoint segments, so by pigeonhole
    they MATCH in at least one band and always co-block (asserted in
    tests — spread AND in-band flips).

    A TWO-AXIS signature (``media_dhash(axes="both")`` — a ``dhash_v``
    column) is detected automatically: the 128 bits split into
    ``bands`` disjoint segments drawn half from each hash (bands=8 →
    16-bit buckets), the pigeonhole guarantee now covering COMBINED
    hamming < bands, and verification sums both axes' bit_counts.
    This is the corpus-scale configuration: random signatures share a
    16-bit bucket with p ≈ 1/65536 vs the single-axis byte bucket's
    1/256 — at the ×100 rehearsal decade the byte buckets' constant
    collision FRACTION is already quadratic candidate mass (the
    measured `lsh_config_for` lesson, replayed in hamming space),
    while two-axis buckets keep occupancy ~N/65536. Wider buckets in
    hamming space must be bought with MORE SIGNAL BITS, not fewer
    bands — fewer bands would shrink the guaranteed-recall radius —
    which is why the scale path is a wider hash, not a tuning knob.
    Single-axis byte banding remains available for eval/interop
    feeds (tiny corpora, and the 64-bit hash is what third-party
    dHash tools emit) but is OPT-IN: the signature producer
    (:func:`media_dhash`) defaults to two-axis, so this function
    composes to 16-bit buckets by default.
    Everything else is the shared posting-list discipline: grouped
    chunk-capped expansion, never a bucket self-join, cost ∝ rows +
    candidate pairs. Returns (id_a, id_b, hamming)."""
    from py_data_pipeline_app_spark.operators.dedup import (
        _bucket_member_pairs,
    )

    # three consumers (blocking, both verification sides) would each
    # re-run the upstream decode+hash mapInPandas — materialize the
    # signatures once (the incremental fold's one-decode discipline)
    hashes = hashes.localCheckpoint(eager=True)
    hash_cols = _dhash_hash_cols(hashes, hash_col)
    blocked = dhash_band_buckets(
        hashes, bands=bands, id_col=id_col, hash_col=hash_col
    )
    cands = (
        _bucket_member_pairs(
            blocked, ["band", "bucket"], id_col, max_bucket_size=max_bucket_size
        )
        .select(F.col("_a").alias("id_a"), F.col("_b").alias("id_b"))
        .distinct()
    )
    ha = hashes.select(
        F.col(id_col).alias("id_a"),
        *[F.col(hc).alias(f"_ha{j}") for j, hc in enumerate(hash_cols)],
    )
    hb = hashes.select(
        F.col(id_col).alias("id_b"),
        *[F.col(hc).alias(f"_hb{j}") for j, hc in enumerate(hash_cols)],
    )
    return (
        cands.join(ha, "id_a")
        .join(hb, "id_b")
        .select(
            "id_a",
            "id_b",
            dhash_hamming(hash_cols).cast("int").alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
    )


def _payload_frame_gray(payload: bytes, frame_idx: int):
    """Deterministic fake per-FRAME 'decode' for the video dHash path:
    the asset's bytes cycled into the 24×27 grid starting at an offset
    that advances one byte per frame — frames of one clip differ (the
    offset rolls the pattern) while two byte-identical (or tiled — the
    same infinite cyclic sequence) clips render the IDENTICAL frame at
    the same index, which is exactly the planted-duplicate property
    the in-container tests need. Same contract as the real per-frame
    decode: a 2-D float array per (payload, frame_idx)."""
    import numpy as np

    if not payload:
        return np.zeros((24, 27), dtype=np.float64)
    b = np.frombuffer(bytes(payload), dtype=np.uint8).astype(np.float64)
    n = 24 * 27
    reps = -(-(n + len(b)) // len(b))
    tiled = np.tile(b, reps)
    start = frame_idx % len(b)
    return np.tile(tiled, 2)[start : start + n].reshape(24, 27)


def video_frame_dhash(
    media: DataFrame,
    *,
    decoder: str = "payload_frames",
    every: int = 5,
    fps_ms: int = 40,
) -> DataFrame:
    """(media_id, frame_idx, ts_ms, dhash, dhash_v): TWO-AXIS
    perceptual hash per sampled video frame — the signature sequence
    clip-level near-dup blocking (:func:`video_near_dup_pairs`)
    consumes. The :func:`sample_frames` cadence (every ``every``-th
    frame at ``fps_ms`` per frame) through the :func:`media_dhash`
    arithmetic: decode is the only genuinely-Python step, so the whole
    thing is one ``mapInPandas`` Arrow map — no shuffle, output rows
    ~ n_frames/every per asset.

    ``decoder="payload_frames"`` is the deterministic in-container
    fake (:func:`_payload_frame_gray`); ``"av_frames"`` decodes REAL
    frames via PyAV (lazy executor import, loud NotImplementedError
    where absent — the `_video_frames` pattern) and feeds the same
    pinned grayscale→grid→bits arithmetic, so re-encoded clips
    produce near-identical per-frame hashes through either path's
    identical downstream math. Frame count comes from
    ``meta.duration_ms`` for the fake (the `sample_frames` arithmetic
    contract) and from the decoded stream for PyAV."""
    if decoder not in ("payload_frames", "av_frames"):
        raise ValueError(
            f"decoder must be 'payload_frames' or 'av_frames', got {decoder!r}"
        )
    real = decoder == "av_frames"
    out_schema = (
        "media_id long, frame_idx int, ts_ms long, dhash long, dhash_v long"
    )

    def gen(batches: Iterator) -> Iterator:
        import numpy as np
        import pandas as pd

        if real:
            import io

            try:
                import av
            except ModuleNotFoundError as exc:  # pragma: no cover
                raise NotImplementedError(
                    "video_frame_dhash(decoder='av_frames') requires PyAV "
                    "(ffmpeg bindings), which is not installed in this "
                    "environment; the payload_frames fake exercises the "
                    "identical hash arithmetic and Spark plumbing."
                ) from exc

        for pdf in batches:
            # per-frame downsamples accumulate into stacks so the bit
            # extraction runs ONCE per Arrow batch (_dhash_bits_batch)
            # instead of 128 Python int ops per frame
            meta_rows: list = []
            hgrids: list = []
            vgrids: list = []

            def add(mid, i, gray):
                meta_rows.append((mid, i, i * fps_ms))
                hgrids.append(_downsample_gray(gray))
                vgrids.append(_downsample_gray(gray, rows=9, cols=8).T)

            durations = [
                None if m is None else m.get("duration_ms")
                for m in pdf["meta"]
            ]
            for mid, payload, dur in zip(
                pdf["media_id"], pdf["payload"], durations
            ):
                payload = payload or b""
                if real:
                    if not payload:
                        continue
                    with av.open(io.BytesIO(bytes(payload))) as container:
                        stream = next(
                            (s for s in container.streams if s.type == "video"),
                            None,
                        )
                        if stream is None:
                            raise ValueError(
                                f"media_id={mid}: kind='video' but the "
                                "container has no video stream"
                            )
                        for i, frame in enumerate(container.decode(stream)):
                            if i % every:
                                continue
                            gray = frame.to_ndarray(format="rgb24").astype(
                                np.float64
                            ).mean(axis=2)
                            add(mid, i, gray)
                else:
                    n_frames = max(1, int(dur) // fps_ms) if dur else 1
                    for i in range(0, n_frames, every):
                        add(mid, i, _payload_frame_gray(payload, i))
            out = pd.DataFrame(
                meta_rows, columns=["media_id", "frame_idx", "ts_ms"]
            )
            out["dhash"] = _dhash_bits_batch(
                np.stack(hgrids) if hgrids else np.empty((0, 8, 9))
            )
            out["dhash_v"] = _dhash_bits_batch(
                np.stack(vgrids) if vgrids else np.empty((0, 8, 9))
            )
            yield out

    # fan_out: per-frame decode+hash is the most expensive stage of the
    # video chain; parallelize it past the one-task unsplittable scan
    return fan_out(media.select("media_id", "payload", "meta")).mapInPandas(
        gen, schema=out_schema
    )


def video_near_dup_pairs(
    frame_hashes: DataFrame,
    *,
    bucket_ms: int = 1000,
    max_hamming: int = 6,
    bands: int = 8,
    min_matching_buckets: int = 2,
    max_bucket_size: int | None = 1000,
) -> DataFrame:
    """Clip-level near-dup pairs from per-frame dHash signatures
    (:func:`video_frame_dhash`): frames are bucketed into coarse
    ``bucket_ms`` time windows, each frame's two-axis hash banded into
    ``bands`` segments, and candidate CLIP pairs come from sharing a
    (frame_bucket, band, bucket) block — so a re-encoded/resized clip
    co-blocks with its original even when codec timing shifts frames
    within the window (the round-13 verdict's stretch, banded on
    (frame_bucket, band) exactly as specified). The pigeonhole
    guarantee lifts to frames: any aligned frame pair within combined
    hamming < bands co-blocks its clips.

    Verification is per shared time bucket: a bucket MATCHES when any
    frame combo within it has combined hamming ≤ ``max_hamming``
    (combos are bounded: ~(bucket_ms/(fps_ms·every))² per bucket), and
    a clip pair is emitted with ``n_matching_buckets`` ≥
    ``min_matching_buckets`` — one coincidental frame never pairs two
    clips. Returns (id_a, id_b, n_matching_buckets), ``id_a < id_b``.
    Scale shape: the shared grouped chunk-capped posting expansion per
    block (never a bucket self-join), then one frame-bucket-keyed join
    restricted to candidate pairs."""
    from py_data_pipeline_app_spark.operators.dedup import (
        _bucket_member_pairs,
    )

    # three consumers (blocking, both verification sides) would each
    # re-run the upstream per-frame decode+hash mapInPandas — the most
    # expensive stage of the whole chain — so materialize it ONCE (the
    # incremental fold's one-decode discipline; round-14 advice)
    fh = frame_hashes.withColumn(
        "frame_bucket", (F.col("ts_ms") / F.lit(bucket_ms)).cast("long")
    ).localCheckpoint(eager=True)
    blocked = (
        fh.select(
            "media_id",
            "frame_bucket",
            F.explode(
                _dhash_band_key_array(["dhash", "dhash_v"], bands)
            ).alias("bk"),
        )
        .select(
            "media_id",
            "frame_bucket",
            F.col("bk.band").alias("band"),
            F.col("bk.bucket").alias("bucket"),
        )
        .distinct()
    )
    cands = (
        _bucket_member_pairs(
            blocked,
            ["frame_bucket", "band", "bucket"],
            "media_id",
            max_bucket_size=max_bucket_size,
        )
        .filter(F.col("_a") != F.col("_b"))
        .select(F.col("_a").alias("id_a"), F.col("_b").alias("id_b"))
        .distinct()
    )
    fa = fh.select(
        F.col("media_id").alias("id_a"),
        F.col("frame_bucket"),
        F.col("dhash").alias("_ha0"),
        F.col("dhash_v").alias("_ha1"),
    )
    fb = fh.select(
        F.col("media_id").alias("_id_b"),
        F.col("frame_bucket").alias("_fb_b"),
        F.col("dhash").alias("_hb0"),
        F.col("dhash_v").alias("_hb1"),
    )
    matches = (
        cands.join(fa, "id_a")
        .join(
            fb,
            (F.col("id_b") == F.col("_id_b"))
            & (F.col("frame_bucket") == F.col("_fb_b")),
        )
        .drop("_id_b", "_fb_b")
        .withColumn("_ham", dhash_hamming(["dhash", "dhash_v"]))
        .groupBy("id_a", "id_b", "frame_bucket")
        .agg(F.min("_ham").alias("_min_ham"))
        .filter(F.col("_min_ham") <= max_hamming)
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).cast("int").alias("n_matching_buckets"))
        .filter(F.col("n_matching_buckets") >= min_matching_buckets)
    )
    return matches


def video_dhash_canonicals(
    media: DataFrame,
    *,
    decoder: str = "payload_frames",
    every: int = 5,
    fps_ms: int = 40,
    bucket_ms: int = 1000,
    max_hamming: int = 6,
    bands: int = 8,
    min_matching_buckets: int = 2,
    max_bucket_size: int | None = 1000,
) -> DataFrame:
    """One-call VIDEO dedup: per-frame dHash signatures → time-bucketed
    banded clip pairs → connected components → keep one canonical clip
    per duplicate family, by FIDELITY — the
    :func:`media_dhash_canonicals` composition on the video stack.
    Fidelity prefers pixel count (meta.width × meta.height: a
    re-encoded family keeps its highest-resolution member), falling
    back to duration then payload bytes for dimensionless rows; ties
    to the LOWEST id. Returns (media_id, component_id, canonical_id,
    fidelity, is_canonical); clips in no pair are their own singleton
    canonical. The cluster resolution is
    :func:`~py_data_pipeline_app_spark.operators.dedup.cluster_canonicals`
    verbatim, so the video path inherits the measured scale shape:
    banded chunk-capped pairs, O(cluster diameter) component rounds,
    one map-side ``min(struct(-score, id))`` per component."""
    from py_data_pipeline_app_spark.operators.dedup import (
        cluster_canonicals,
    )

    fh = video_frame_dhash(
        media, decoder=decoder, every=every, fps_ms=fps_ms
    )
    pairs = video_near_dup_pairs(
        fh,
        bucket_ms=bucket_ms,
        max_hamming=max_hamming,
        bands=bands,
        min_matching_buckets=min_matching_buckets,
        max_bucket_size=max_bucket_size,
    ).select("id_a", "id_b")
    fidelity = F.coalesce(
        (F.col("meta.width") * F.col("meta.height")).cast("double"),
        F.col("meta.duration_ms").cast("double"),
        F.octet_length("payload").cast("double"),
    )
    scores = media.select(F.col("media_id"), fidelity.alias("fidelity"))
    return cluster_canonicals(
        media.select("media_id"),
        pairs,
        scores,
        id_col="media_id",
        score_col="fidelity",
        components="star",  # re-encode chains: O(log n), not O(diameter)
    )


def media_dhash_canonicals(
    media: DataFrame,
    *,
    decoder: str = "payload_gray",
    axes: str = "both",
    max_hamming: int = 6,
    bands: int = 8,
    max_bucket_size: int | None = 1000,
) -> DataFrame:
    """One-call multimodal dedup: perceptual hash → banded near-dup
    pairs → connected components → keep ONE canonical asset per
    duplicate cluster, by FIDELITY — the selection policy an image
    corpus wants (a resized/re-encoded family should keep its
    highest-resolution member, not an arbitrary lowest-id one).
    Returns (media_id, component_id, canonical_id, fidelity,
    is_canonical); assets in no pair are their own singleton
    canonical.

    Fidelity is ``meta.width × meta.height`` where the typed metadata
    carries dimensions, else the payload byte length (time media /
    dimensionless assets) — 6dp-stable numerics, ties to the LOWEST
    id. The cluster resolution is
    :func:`~py_data_pipeline_app_spark.operators.dedup.cluster_canonicals`
    verbatim (min-label propagation + one map-side
    ``min(struct(-score, id))`` per component), so the multimodal path
    inherits the text stack's measured scale shape: pairs are banded
    and chunk-capped, components converge in O(cluster diameter)
    rounds, and the canonical pick never windows over the
    mostly-singleton corpus."""
    from py_data_pipeline_app_spark.operators.dedup import (
        cluster_canonicals,
    )

    hashes = media_dhash(media, decoder=decoder, axes=axes)
    pairs = dhash_near_dup_pairs(
        hashes,
        max_hamming=max_hamming,
        bands=bands,
        max_bucket_size=max_bucket_size,
    )
    fidelity = F.coalesce(
        (F.col("meta.width") * F.col("meta.height")).cast("double"),
        F.octet_length("payload").cast("double"),
    )
    scores = media.select(F.col("media_id"), fidelity.alias("fidelity"))
    return cluster_canonicals(
        media.select("media_id"),
        pairs,
        scores,
        id_col="media_id",
        score_col="fidelity",
        # perceptual near-dup graphs form re-encode CHAINS (a ×100
        # rehearsal finding: chain diameter exceeded the min-label
        # bound on the audio feed) — the star rounds are O(log n) on
        # any shape, identical components
        components="star",
    )
