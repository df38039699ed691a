"""Multimodal-column operators (SURVEY §2.3): binary payloads + typed
metadata, decode/feature-extract/frame-sample plumbing.

The container has no codec LIBRARIES (and the driver tables have no
media), but since r11 the decode step is real for PNG and GIF: a pure
stdlib header parser (struct + zlib.crc32, `parse_image_header`)
reads true dimensions off real bytes, exercised end-to-end by
q_multimodal_features on PNGs built in-flight by `make_png`. Formats
beyond those two still need PIL (import-probed; clearly-marked
NotImplementedError without it) with a deterministic fake as the last
tier. Everything Spark-side is real and tested: binary columns,
metadata structs, Arrow-batched mapInPandas with explicit output
schema, per-partition batch shaping, and the oracle-checkable parts
(lengths, hashes, magic sniff) run as JVM expressions.

Media bytes are synthesized from `documents.text` (utf-8) so the
pipeline is reproducible on the driver tables; with real data the
binary column comes straight off parquet/webdataset ingest unchanged.
"""

from __future__ import annotations

from typing import Iterator

from pyspark.sql import DataFrame, functions as F

from pandas_reporter_spark.registry import query
from pandas_reporter_spark.session import configure
from pandas_reporter_spark.tables import load

#: Output schema of the feature extractor — explicit, never inferred.
_FEATURE_SCHEMA = (
    "doc_id long, n_bytes int, first_byte int, byte_sum_mod long, "
    "png_w int, png_h int, png_mode string, n_batch_rows int"
)

_PNG_MAGIC = b"\x89PNG\r\n\x1a\n"

#: PNG color type -> PIL-style mode letters (public PNG spec, table
#: 11.4; the suffix carries bit depth so the string is lossless).
_PNG_MODES = {0: "L", 2: "RGB", 3: "P", 4: "LA", 6: "RGBA"}


def make_png(width: int, height: int, pixels: bytes | None = None) -> bytes:
    """A minimal VALID grayscale PNG (8-bit), pure struct+zlib —
    signature, IHDR, one IDAT of filter-0 scanlines, IEND, all CRCs
    correct. Any standards-conforming decoder accepts the output;
    tests feed it to PIL when that is importable. Exists so the
    decode path can be exercised on REAL byte-format payloads inside
    this codec-less container (VERDICT r10 item 4). `pixels` is the
    row-major 8-bit grayscale grid (len == width·height); None keeps
    the historical zero-pixel image byte-for-byte."""
    import struct  # noqa: PLC0415 — worker-side
    import zlib  # noqa: PLC0415 — worker-side

    if pixels is None:
        pixels = bytes(width * height)
    if len(pixels) != width * height:
        raise ValueError(
            f"pixels must be width*height={width * height} bytes, "
            f"got {len(pixels)}"
        )

    def chunk(tag: bytes, payload: bytes) -> bytes:
        data = tag + payload
        return (
            struct.pack(">I", len(payload))
            + data
            + struct.pack(">I", zlib.crc32(data) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", width, height, 8, 0, 0, 0, 0)
    raw = b"".join(
        b"\x00" + pixels[r * width:(r + 1) * width] for r in range(height)
    )
    return (
        _PNG_MAGIC
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raw, 6))
        + chunk(b"IEND", b"")
    )


def decode_pixels(data: bytes) -> tuple[int, int, bytes]:
    """REAL stdlib PNG pixel decode for 8-bit grayscale: chunk walk
    (per-chunk CRC verified), IDAT concat + zlib inflate, and the full
    five-filter defilter of the public spec (§9: None/Sub/Up/Average/
    Paeth — bpp=1 for L;8). Returns (width, height, row-major pixel
    bytes). Independent of `make_png`'s build path (compress vs
    inflate, pack vs unpack), so a round-trip test exercises both
    directions of the format for real. Raises ValueError on non-PNG,
    CRC mismatch, or torn pixel data; NotImplementedError for PNG
    color modes beyond grayscale-8 (interlace, palettes — PIL tier)."""
    import struct  # noqa: PLC0415 — worker-side
    import zlib  # noqa: PLC0415 — worker-side

    hdr = parse_image_header(data)
    if hdr is None or not hdr[2].startswith("png/"):
        raise ValueError("not a PNG payload")
    w, h, mode = hdr
    if mode != "png/L;8":
        raise NotImplementedError(
            f"pixel decode implemented for png/L;8 only, got {mode}"
        )
    if data[28] != 0:  # IHDR interlace byte (offset 16 + 12)
        raise NotImplementedError("Adam7 interlace needs the PIL tier")
    off, idat = 8, bytearray()
    while off + 12 <= len(data):
        length, tag = struct.unpack(">I4s", data[off:off + 8])
        payload = data[off + 8:off + 8 + length]
        (crc,) = struct.unpack(
            ">I", data[off + 8 + length:off + 12 + length]
        )
        if crc != zlib.crc32(tag + payload) & 0xFFFFFFFF:
            raise ValueError(f"PNG {tag!r} chunk CRC mismatch")
        if tag == b"IDAT":
            idat += payload
        if tag == b"IEND":
            break
        off += 12 + length
    raw = zlib.decompress(bytes(idat))
    if len(raw) != (w + 1) * h:
        raise ValueError(
            f"torn pixel data: {len(raw)} bytes, want {(w + 1) * h}"
        )
    out = bytearray(w * h)
    prev = bytes(w)
    for r in range(h):
        line = raw[r * (w + 1):(r + 1) * (w + 1)]
        filt, cur = line[0], bytearray(line[1:])
        if filt == 1:  # Sub: + left
            for i in range(1, w):
                cur[i] = (cur[i] + cur[i - 1]) & 0xFF
        elif filt == 2:  # Up: + above
            for i in range(w):
                cur[i] = (cur[i] + prev[i]) & 0xFF
        elif filt == 3:  # Average: + floor((left+above)/2)
            for i in range(w):
                left = cur[i - 1] if i else 0
                cur[i] = (cur[i] + (left + prev[i]) // 2) & 0xFF
        elif filt == 4:  # Paeth predictor
            for i in range(w):
                a, b, c = (cur[i - 1] if i else 0), prev[i], (
                    prev[i - 1] if i else 0
                )
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (
                    b if pb <= pc else c
                )
                cur[i] = (cur[i] + pred) & 0xFF
        elif filt != 0:
            raise ValueError(f"unknown PNG filter type {filt}")
        out[r * w:(r + 1) * w] = cur
        prev = cur
    return w, h, bytes(out)


def parse_image_header(data: bytes):
    """(width, height, mode) parsed from real image bytes with ONLY the
    stdlib — PNG via the IHDR chunk (big-endian fields, CRC VERIFIED
    with zlib.crc32 so truncated/corrupt headers fail loudly) and GIF
    via the 87a/89a logical-screen descriptor (little-endian). Returns
    None when the payload carries neither magic, so callers can fall
    through to an optional codec or the deterministic fake. This is
    the real-decode tier of decode_dims: no PIL needed for the two
    formats whose headers are trivially parseable from the public
    specs."""
    import struct  # noqa: PLC0415 — worker-side
    import zlib  # noqa: PLC0415 — worker-side

    if data[:8] == _PNG_MAGIC and len(data) >= 33:
        length, tag = struct.unpack(">I4s", data[8:16])
        if tag != b"IHDR" or length != 13:
            raise ValueError("PNG signature without a leading IHDR chunk")
        w, h, bit_depth, color_type = struct.unpack(">IIBB", data[16:26])
        (crc,) = struct.unpack(">I", data[29:33])
        if crc != zlib.crc32(data[12:29]) & 0xFFFFFFFF:
            raise ValueError("PNG IHDR CRC mismatch")
        mode = _PNG_MODES.get(color_type, f"ct{color_type}")
        return w, h, f"png/{mode};{bit_depth}"
    if data[:6] in (b"GIF87a", b"GIF89a") and len(data) >= 10:
        w, h = struct.unpack("<HH", data[6:10])
        return w, h, "gif"
    return None


def _probe_pil():
    """Import-probe for the optional codec (PIL). Returns the Image
    module when importable, None otherwise — resolved at CALL time so
    a monkeypatched/late-installed codec takes effect without reload."""
    try:  # pragma: no cover - container has no PIL; exercised via mock
        from PIL import Image  # noqa: PLC0415 — optional dependency

        return Image
    except ImportError:
        return None


def decode_image(data: bytes):
    """Decode an image payload via PIL when the codec is importable.

    In a codec-equipped environment this returns the opened
    `PIL.Image`; in this container (no PIL) it raises — clearly, at
    the decode step, never silently. The Spark-side plumbing around
    this call (binary column → mapInPandas → feature schema) is real
    either way.
    """
    pil = _probe_pil()
    if pil is None:
        raise NotImplementedError(
            "image decode needs a codec library (PIL) that is not in "
            "this environment"
        )
    import io  # noqa: PLC0415 — worker-side

    return pil.open(io.BytesIO(data))


def decode_dims(data: bytes) -> tuple[int, int, int, str]:
    """(n_bytes, width, height, mode), three tiers (r10 item 4 moved
    PNG/GIF from tier 2 to tier 1 so REAL byte-format decode runs in
    this codec-less container):

    1. stdlib header parse for PNG/GIF (`parse_image_header` — real
       bytes, real spec, CRC-checked, no dependencies);
    2. PIL for any other format, when importable;
    3. the deterministic fake (byte arithmetic) otherwise — same
       schema, so a pipeline built on this upgrades itself in a
       codec-equipped environment with no code change.

    Corrupt-payload policy (ADVICE r11): a payload carrying the PNG
    magic but a malformed/truncated IHDR or a CRC mismatch makes
    `parse_image_header` raise; here that ValueError DEGRADES to the
    next tier instead of propagating — at corpus scale one corrupt
    record must not abort the whole mapInPandas task. The mode string
    for such rows is the fallback tier's ('stub' in this container),
    so corrupt records remain countable downstream."""
    try:
        hdr = parse_image_header(data)
    except ValueError:
        hdr = None  # corrupt magic-bearing payload: degrade, don't abort
    if hdr is not None:
        w, h, mode = hdr
        return len(data), int(w), int(h), mode
    pil = _probe_pil()
    if pil is None:
        n_bytes, first, ssum = fake_decode_features(data)
        return n_bytes, first % 640, ssum % 480, "stub"
    img = decode_image(data)
    w, h = img.size
    return len(data), int(w), int(h), str(img.mode)


def fake_decode_features(data: bytes) -> tuple[int, int, int]:
    """Deterministic fake 'decode': (n_bytes, first_byte, Σbytes mod 997).

    Stands in for decode→resize→embed so the distributed plumbing and
    the driver's rows-check exercise a stable function.
    """
    return len(data), (data[0] if data else -1), sum(data) % 997


def with_media(df: DataFrame) -> DataFrame:
    """Attach a binary payload + typed metadata struct to documents.

    The metadata struct (mime/width/height/n_frames) is the pattern for
    real corpora: media bytes stay an opaque `binary`, everything
    filterable lives in typed columns so Catalyst can prune/push down
    WITHOUT touching payloads — the property that matters at 100 TB,
    where metadata predicates must never force payload IO.
    """
    payload = F.encode(F.col("text"), "utf-8")
    return df.select(
        "doc_id",
        "lang",
        payload.alias("media"),
        F.struct(
            F.lit("application/x-fake").alias("mime"),
            (F.col("n_chars") % 640).cast("int").alias("width"),
            (F.col("n_chars") % 480).cast("int").alias("height"),
            (F.col("doc_id") % 16 + 1).cast("int").alias("n_frames"),
        ).alias("meta"),
    )


@query(
    "q_multimodal_pack",
    oracle="""
    -- payload = utf-8 bytes of text, so md5/left on the VARCHAR are
    -- byte-identical to the blob ops (DuckDB's md5 is VARCHAR-only)
    SELECT doc_id,
           octet_length(encode(text)) AS n_bytes,
           md5(text) AS payload_md5,
           CASE WHEN octet_length(encode(text)) >= 2
                THEN left(text, 2) = '{"' ELSE FALSE
           END AS looks_json
    FROM documents
    """,
)
def q_multimodal_pack(spark, sf):
    """Binary packing + payload hashing + magic-byte sniff, JVM-side.

    Everything here runs without deserializing payloads into Python:
    octet length, md5, and the leading-bytes 'magic' test are Catalyst
    expressions over the binary column. This is the metadata-extraction
    stage of a media pipeline — the part that CAN stay JVM-side, must.
    """
    configure(spark)
    d = load(spark, sf, "documents")
    media = with_media(d)
    return media.select(
        "doc_id",
        F.octet_length("media").alias("n_bytes"),
        F.md5("media").alias("payload_md5"),
        F.when(
            F.octet_length("media") >= 2,
            F.substring("media", 1, 2) == F.lit(b'{"'),
        )
        .otherwise(F.lit(False))
        .alias("looks_json"),
    )


def media_features(spark, sf):
    """Full feature-extraction frame, INCLUDING the Arrow batch-shape
    column (n_batch_rows) — the batch size is execution-dependent, so
    it stays out of the oracled query and is pinned separately by
    tests/test_multimodal.py."""
    configure(spark)
    d = load(spark, sf, "documents")
    # payload inline (same expression with_media uses) — selecting
    # n_chars alongside instead of joining back avoids a self-join
    media = d.select(
        "doc_id", F.encode(F.col("text"), "utf-8").alias("media"), "n_chars"
    )

    def extract(batches: Iterator) -> Iterator:
        import pandas as pd  # worker-side

        for pdf in batches:
            feats = [fake_decode_features(b) for b in pdf["media"]]
            # Real byte-format leg: build a valid PNG per row (dims
            # derived from row fields, bounded small) and run it
            # through the production decoder — tier-1 stdlib IHDR
            # parse, CRC checked. Build (struct.pack) and parse
            # (struct.unpack + crc32) are independent code paths, and
            # the oracle recomputes the expected dims analytically.
            dims = [
                decode_dims(
                    make_png(int(nc) % 64 + 1, int(did) % 48 + 1)
                )
                for did, nc in zip(pdf["doc_id"], pdf["n_chars"])
            ]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "n_bytes": [f[0] for f in feats],
                    "first_byte": [f[1] for f in feats],
                    "byte_sum_mod": [f[2] for f in feats],
                    "png_w": [w for _, w, _, _ in dims],
                    "png_h": [h for _, _, h, _ in dims],
                    "png_mode": [m for _, _, _, m in dims],
                    "n_batch_rows": len(pdf),
                }
            )

    return media.mapInPandas(extract, schema=_FEATURE_SCHEMA)


@query(
    "q_multimodal_features",
    oracle="""
    -- the payload is the utf-8 encoding of ASCII-only text, so the
    -- Python decoder's byte arithmetic is replayable per-character in
    -- SQL: n_bytes = octet_length, first_byte = ord(first char),
    -- byte_sum = Σ ord(char) — promoted from rows-only in r6, making
    -- the mapInPandas path VALUE-checked, not just row-counted
    SELECT doc_id,
           CAST(octet_length(encode(text)) AS INTEGER) AS n_bytes,
           CAST(CASE WHEN length(text) > 0
                     THEN ord(substring(text, 1, 1)) ELSE -1
                END AS INTEGER) AS first_byte,
           CAST(COALESCE(list_aggregate(
                  list_transform(range(1, length(text) + 1),
                                 i -> ord(substring(text, i, 1))),
                  'sum'), 0) % 997 AS BIGINT) AS byte_sum_mod,
           -- the PNG leg round-trips make_png -> parse_image_header
           -- (real IHDR bytes, CRC-checked); the expected dims are the
           -- same row-field arithmetic the builder used
           CAST(n_chars % 64 + 1 AS INTEGER) AS png_w,
           CAST(doc_id % 48 + 1 AS INTEGER) AS png_h,
           'png/L;8' AS png_mode
    FROM documents
    """,
)
def q_multimodal_features(spark, sf):
    """Feature extraction over binary payloads via mapInPandas.

    The real-media pattern: Arrow ships (doc_id, media) batches to
    Python, the decoder runs per batch, output schema is explicit.
    At scale: repartition by size
    bucket first so decode cost per task is even, and keep payloads
    OUT of any shuffle (extract features, drop bytes, then join back
    by doc_id if needed). The Arrow batch shape itself is pinned by
    tests via media_features' n_batch_rows column (execution-
    dependent, so excluded from the hash-checked projection).

    Since r11 the batch also carries a REAL byte-format decode
    (VERDICT r10 item 4): a valid PNG is built per row (pure
    struct+zlib) and parsed back by the production decoder's stdlib
    IHDR tier — width/height/mode are value-checked against the
    oracle's analytical replay of the expected dims.
    """
    return media_features(spark, sf).select(
        "doc_id", "n_bytes", "first_byte", "byte_sum_mod",
        "png_w", "png_h", "png_mode",
    )


@query(
    "q_multimodal_frame_sample",
    oracle="""
    SELECT doc_id, frame_idx,
           md5(doc_id::VARCHAR || ':' || frame_idx::VARCHAR) AS frame_key
    FROM (
      SELECT doc_id, unnest(range(0, (doc_id % 16 + 1)::BIGINT, 4)) AS frame_idx
      FROM documents
    )
    """,
)
def q_multimodal_frame_sample(spark, sf):
    """Frame sampling plumbing: every 4th frame index per video.

    The sample plan (explode of a bounded sequence from metadata) is
    exactly how frame extraction parallelizes: one output row per
    (video, frame) BEFORE the decoder runs, so decode work distributes
    at frame granularity, not video granularity — the difference
    between one straggler task per long video and even tasks. The
    frame_key hash stands in for the decoded frame payload.
    """
    configure(spark)
    d = load(spark, sf, "documents")
    media = with_media(d)
    frames = media.select(
        "doc_id",
        F.explode(
            F.sequence(F.lit(0), F.col("meta.n_frames") - 1, F.lit(4))
        ).alias("frame_idx"),
    )
    return frames.select(
        "doc_id",
        "frame_idx",
        F.md5(F.concat_ws(":", "doc_id", "frame_idx")).alias("frame_key"),
    )

def fake_resize(data: bytes, target: int = 128) -> bytes:
    """Deterministic fake 'resize': stride-sample payload bytes down to
    ≤ target. Stands in for image resize (PIL.thumbnail) so the
    distributed plumbing is real while the codec is stubbed."""
    if len(data) <= target:
        return data
    stride = len(data) // target
    return data[::stride][:target]


@query(
    "q_multimodal_resize",
    oracle="""
    -- fake_resize is stride-sampling: stride = len//128, take bytes
    -- 0, stride, 2·stride, … capped at 128. For len > 128 that is
    -- EXACTLY 128 samples (stride = ⌊len/128⌋ ⇒ ⌈len/stride⌉ ≥ 128),
    -- all in range — so the resized payload is replayable per
    -- character on the ASCII text and md5 must match the Python
    -- path's blob digest byte-for-byte (promoted from rows-only r6)
    SELECT doc_id,
           CAST(CASE WHEN length(text) <= 128 THEN length(text)
                     ELSE 128 END AS INTEGER) AS n_bytes,
           md5(CASE WHEN length(text) <= 128 THEN text
                    ELSE array_to_string(
                      list_transform(range(0, 128),
                        k -> substring(text,
                                       1 + k * (length(text) // 128), 1)),
                      '')
               END) AS payload_md5
    FROM documents
    """,
)
def q_multimodal_resize(spark, sf):
    """Resize stage: mapInPandas over (id, media, meta) -> smaller
    payload + updated metadata.

    The pattern for any payload TRANSFORM (resize, re-encode,
    normalize): Arrow batches in, bytes out, metadata recomputed next
    to the new payload so downstream pruning stays truthful. Output
    schema explicit; payloads still never enter a shuffle (the op is a
    map, partitioning is preserved).
    """
    import pandas as pd  # worker-side

    configure(spark)
    d = load(spark, sf, "documents")
    media = with_media(d).select("doc_id", "media")

    def resize(batches):
        for pdf in batches:
            out = [fake_resize(bytes(b)) for b in pdf["media"]]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "media": out,
                    "n_bytes": [len(b) for b in out],
                }
            )

    resized = media.mapInPandas(
        resize, schema="doc_id long, media binary, n_bytes int"
    )
    return resized.select("doc_id", "n_bytes", F.md5("media").alias("payload_md5"))


#: dHash raster: 9 columns x 8 rows -> 8x8 horizontal-gradient bits,
#: split into two 32-bit halves (rows 0-3 / rows 4-7) so every value
#: stays positive in a signed 64-bit integer in BOTH engines — the
#: q_similarity_hamming half-pattern that removes all wraparound
#: emulation from the oracle.
_PHASH_W, _PHASH_H = 9, 8


def phash_grid(payload: bytes) -> bytes:
    """The 72-pixel grid for a payload: stride-sampled across the WHOLE
    byte string (pixel p = byte at p·n//72), the same whole-image
    coverage a real dHash gets from its resize step. No padding for
    any non-empty payload — a constant pad tail would hand every short
    doc identical low-entropy bands and turn the banded join quadratic
    on that bucket; sampling the full payload keeps band entropy
    proportional to content, not length. Empty payloads get a constant
    grid (hash 0)."""
    n = len(payload)
    if n == 0:
        return bytes([32]) * (_PHASH_W * _PHASH_H)
    m = _PHASH_W * _PHASH_H
    return bytes(payload[(p * n) // m] for p in range(m))


def dhash_halves(grid: bytes) -> tuple[int, int]:
    """dHash over a decoded 9x8 grid (public algorithm: difference
    hash — bit (r,c) set iff pixel(r,c+1) > pixel(r,c)); returns the
    two 32-bit halves. Bit b of half 1 is (r=b//8, c=b%8), half 2 the
    same with r+4 — the layout the oracle SQL replays literally."""
    h1 = h2 = 0
    for r in range(4):
        for c in range(8):
            if grid[r * _PHASH_W + c + 1] > grid[r * _PHASH_W + c]:
                h1 |= 1 << (r * 8 + c)
            rr = r + 4
            if grid[rr * _PHASH_W + c + 1] > grid[rr * _PHASH_W + c]:
                h2 |= 1 << (r * 8 + c)
    return h1, h2


def phash_signatures(spark, sf) -> DataFrame:
    """(doc_id, phash_h1, phash_h2) via the REAL decode path: each
    Arrow batch builds a valid PNG per row from the payload's sampled
    grid (`make_png`) and runs it back through `decode_pixels` —
    inflate + defilter + CRC walk, the production decoder — before
    hashing. Build and decode are independent code paths, so the
    round-trip exercises the byte format for real; with a codec
    library present the same plumbing hashes genuinely decoded media.
    Scan-stage map: ZERO shuffle to build signatures."""
    configure(spark)
    d = load(spark, sf, "documents").select("doc_id", "text")

    def sign(batches: Iterator) -> Iterator:
        import pandas as pd  # noqa: PLC0415 — worker-side

        for pdf in batches:
            h1s, h2s = [], []
            for txt in pdf["text"]:
                payload = (txt or "").encode("utf-8")
                png = make_png(_PHASH_W, _PHASH_H, phash_grid(payload))
                w, h, grid = decode_pixels(png)
                assert (w, h) == (_PHASH_W, _PHASH_H)
                h1, h2 = dhash_halves(grid)
                h1s.append(h1)
                h2s.append(h2)
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "phash_h1": h1s,
                    "phash_h2": h2s,
                }
            )

    return d.mapInPandas(
        sign, schema="doc_id long, phash_h1 long, phash_h2 long"
    )


@query(
    "q_dedup_phash",
    oracle="""
    -- perceptual-hash dedup, replayed analytically: the payload is the
    -- utf-8 encoding of ASCII-only text, so the 9x8 stride-sampled
    -- pixel grid is ord() arithmetic (pixel p = byte p*len//72), the
    -- dHash bit layout matches dhash_halves literally (bit b of half 1
    -- compares grid columns b%8 / b%8+1 on row b//8; half 2 rows 4-7),
    -- and keep-lowest-id drops a doc iff some lower-id doc is within
    -- Hamming distance 3 over the 64 bits. The engine's 4x16-bit
    -- banded join is EXACT for radius 3 by pigeonhole, so brute force
    -- here is the same pair set.
    WITH g AS (
      SELECT doc_id,
             list_transform(range(0, 72),
               p -> CASE WHEN length(text) = 0 THEN 32
                         ELSE ord(substring(text,
                                   (p * length(text)) // 72 + 1, 1))
                    END) AS px
      FROM documents
    ),
    h AS (
      SELECT doc_id,
        CAST(COALESCE(list_aggregate(list_transform(range(0, 32),
          b -> CASE WHEN px[(b // 8) * 9 + (b % 8) + 2]
                       > px[(b // 8) * 9 + (b % 8) + 1]
                    THEN (1::BIGINT << b) ELSE 0 END), 'sum'), 0)
             AS BIGINT) AS phash_h1,
        CAST(COALESCE(list_aggregate(list_transform(range(0, 32),
          b -> CASE WHEN px[(b // 8 + 4) * 9 + (b % 8) + 2]
                       > px[(b // 8 + 4) * 9 + (b % 8) + 1]
                    THEN (1::BIGINT << b) ELSE 0 END), 'sum'), 0)
             AS BIGINT) AS phash_h2
      FROM g
    )
    SELECT h.doc_id, h.phash_h1, h.phash_h2,
           NOT EXISTS (
             SELECT 1 FROM h o
             WHERE o.doc_id < h.doc_id
               AND bit_count(xor(o.phash_h1, h.phash_h1))
                 + bit_count(xor(o.phash_h2, h.phash_h2)) <= 3
           ) AS kept
    FROM h
    """,
)
def q_dedup_phash(spark, sf):
    """Perceptual-hash near-duplicate dedup over media payloads — the
    multimodal family meeting the dedup family (VERDICT r14 item 4):
    dHash signatures off the DECODED pixel grid (real PNG build →
    stdlib inflate/defilter decode per row, `phash_signatures`), then
    the q_similarity_hamming banding discipline and keep-lowest-id.

    Exactness: the 64-bit hash is split into 4 bands of 16 bits; any
    pair within Hamming distance 3 agrees on at least one whole band
    (pigeonhole), so the banded equi-join finds EVERY radius-3 pair —
    no recall loss vs brute force, which is what the oracle replays.

    Scale shape: signatures are scan-stage Arrow work (zero shuffle,
    20 B/doc output); only the signature table enters the banded
    self-join — 4 explode rows/doc of ~28 B, shuffled on
    (band_idx, band_value), so at 100 TB the join input is ~0.1% of
    corpus bytes. Candidate pairs are verified by popcount(xor) before
    the keep-lowest-id anti-join. A template-heavy corpus that
    concentrates one band value gets the q_dedup_minhash_capped
    hot-bucket treatment (cap + exact within-cap); band entropy here
    is already guarded by whole-payload stride sampling (see
    phash_grid). At rest, signatures ride the same sidecar discipline
    as the `minhash` artifact (20 B/doc).

    Reference parity: none (driver-mandated LLM-pipeline surface).
    """
    sigs = phash_signatures(spark, sf)
    from pyspark import StorageLevel  # noqa: PLC0415

    sigs = sigs.persist(StorageLevel.MEMORY_AND_DISK)
    bands = sigs.select(
        "doc_id",
        "phash_h1",
        "phash_h2",
        F.explode(
            F.array(
                F.struct(
                    F.lit(0).alias("bi"),
                    F.col("phash_h1").bitwiseAND(F.lit(0xFFFF)).alias("bv"),
                ),
                F.struct(
                    F.lit(1).alias("bi"),
                    F.shiftright("phash_h1", 16).alias("bv"),
                ),
                F.struct(
                    F.lit(2).alias("bi"),
                    F.col("phash_h2").bitwiseAND(F.lit(0xFFFF)).alias("bv"),
                ),
                F.struct(
                    F.lit(3).alias("bi"),
                    F.shiftright("phash_h2", 16).alias("bv"),
                ),
            )
        ).alias("band"),
    ).select("doc_id", "phash_h1", "phash_h2", "band.bi", "band.bv")
    a = bands.select(
        F.col("doc_id").alias("id_a"),
        F.col("phash_h1").alias("a1"),
        F.col("phash_h2").alias("a2"),
        "bi",
        "bv",
    )
    b = bands.select(
        F.col("doc_id").alias("id_b"),
        F.col("phash_h1").alias("b1"),
        F.col("phash_h2").alias("b2"),
        "bi",
        "bv",
    )
    ham = F.bit_count(
        F.col("a1").bitwiseXOR(F.col("b1"))
    ) + F.bit_count(F.col("a2").bitwiseXOR(F.col("b2")))
    dropped = (
        a.join(b, ["bi", "bv"])
        .filter((F.col("id_a") < F.col("id_b")) & (ham <= 3))
        .select(F.col("id_b").alias("doc_id"))
        .distinct()
        .withColumn("_dup", F.lit(True))
    )
    return sigs.join(dropped, "doc_id", "left").select(
        "doc_id",
        "phash_h1",
        "phash_h2",
        F.col("_dup").isNull().alias("kept"),
    )

