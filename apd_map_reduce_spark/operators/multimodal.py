"""Multimodal column plumbing: opaque binary payloads + typed metadata
(driver mandate).

The real pipeline shape at 100 TB: `spark.read.format("binaryFile")`
(or parquet with a binary column) → `mapInPandas` feature extraction in
Arrow batches → typed metadata columns. The image/audio codecs are NOT
in this container, so `decode_image` is a clearly-marked stub; the
Spark-side plumbing — schema, batch iteration, partitioning — is real
and oracle-checked via deterministic byte-level features.

Why mapInPandas (not a scalar UDF): batches arrive as Arrow buffers, so
bytes never materialize row-at-a-time in Python; one python worker per
partition streams batches — the same shape a real decoder needs.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from apd_map_reduce_spark.operators.dedup import _hamming_pairs_sql, hamming_near_pairs
from apd_map_reduce_spark.queries.base import QueryDef
from apd_map_reduce_spark.sources.tables import load_table

META_SCHEMA = (
    "doc_id LONG, n_bytes LONG, content_hash STRING, fake_width LONG, fake_height LONG"
)


def _codec():
    """The optional image codec: PIL's Image module, or None when the
    environment has no codec (this container). Import probed at call
    time so executors resolve it against their own site-packages."""
    try:
        from PIL import Image
    except ImportError:  # pragma: no cover - container has no PIL
        return None
    return Image


def has_image_codec() -> bool:
    return _codec() is not None


class _PnmImage:
    """Vendored dependency-free decode result for binary PPM/PGM
    payloads — the minimal subset of the PIL Image API the pixel
    operators use (size/mode/load/getdata/convert/resize), so
    `image_metadata` / `image_phash` run on REAL decoded pixels even
    in codec-less containers. Uncompressed P5/P6 only: the point is a
    genuine pixel path without shipping a compression codec; PNG/JPEG
    still require PIL.

    The fallback's downscale is an exact area-average (fractional
    pixel coverage), not PIL's triangle-filter BILINEAR — a pHash of
    the same PNM payload is deterministic within a backend but may
    differ by a few bits across backends. Neither pixel path is an
    oracle-registered query, so no cross-engine contract is affected."""

    def __init__(self, mode: str, size: tuple[int, int], pixels: list) -> None:
        self.mode = mode
        self.size = size
        self._px = pixels  # row-major; ints (L) or (r, g, b) tuples (RGB)

    def load(self) -> "_PnmImage":
        return self

    def getdata(self) -> list:
        return list(self._px)

    def convert(self, mode: str) -> "_PnmImage":
        if mode == self.mode:
            return self
        if mode != "L" or self.mode != "RGB":
            raise NotImplementedError(f"convert {self.mode}->{mode}")
        # PIL's exact ITU-R 601-2 integer luma ((x*coeff + 0x8000) >> 16)
        px = [
            (r * 19595 + g * 38470 + b * 7471 + 0x8000) >> 16
            for (r, g, b) in self._px
        ]
        return _PnmImage("L", self.size, px)

    def resize(self, size: tuple[int, int], resample=None) -> "_PnmImage":
        if self.mode != "L":
            raise NotImplementedError("fallback resize supports mode L only")
        import numpy as np

        w, h = self.size
        tw, th = size
        a = np.asarray(self._px, dtype=np.float64).reshape(h, w)
        # exact fractional-coverage area average per destination cell
        ys = [i * h / th for i in range(th + 1)]
        xs = [i * w / tw for i in range(tw + 1)]
        out: list[int] = []
        for ty in range(th):
            for tx in range(tw):
                y0, y1, x0, x1 = ys[ty], ys[ty + 1], xs[tx], xs[tx + 1]
                iy0, iy1 = int(y0), min(int(-(-y1 // 1)), h)
                ix0, ix1 = int(x0), min(int(-(-x1 // 1)), w)
                wy = np.clip(
                    np.minimum(np.arange(iy0, iy1) + 1, y1)
                    - np.maximum(np.arange(iy0, iy1), y0),
                    0.0,
                    None,
                )
                wx = np.clip(
                    np.minimum(np.arange(ix0, ix1) + 1, x1)
                    - np.maximum(np.arange(ix0, ix1), x0),
                    0.0,
                    None,
                )
                cell = a[iy0:iy1, ix0:ix1]
                v = float((cell * wy[:, None] * wx[None, :]).sum()) / (
                    (y1 - y0) * (x1 - x0)
                )
                out.append(int(v + 0.5))
        return _PnmImage("L", (tw, th), out)


def _parse_pnm(payload: bytes) -> _PnmImage:
    """Binary PPM (P6, RGB) / PGM (P5, grayscale) parser: magic,
    whitespace/#-comment-separated width height maxval, one whitespace
    byte, then raw samples. maxval ≤ 255 only (1 byte per sample)."""
    magic = payload[:2]
    pos = 2
    fields: list[int] = []
    while len(fields) < 3:
        while pos < len(payload) and payload[pos : pos + 1].isspace():
            pos += 1
        if payload[pos : pos + 1] == b"#":
            while pos < len(payload) and payload[pos] != 0x0A:
                pos += 1
            continue
        start = pos
        while pos < len(payload) and not payload[pos : pos + 1].isspace():
            pos += 1
        fields.append(int(payload[start:pos]))
    pos += 1  # the single whitespace byte after maxval
    w, h, maxval = fields
    if maxval > 255:
        raise ValueError("PNM maxval > 255 unsupported (2-byte samples)")
    n = w * h
    if magic == b"P5":
        raster = payload[pos : pos + n]
        if len(raster) != n:
            raise ValueError("truncated PGM raster")
        return _PnmImage("L", (w, h), list(raster))
    raster = payload[pos : pos + 3 * n]
    if len(raster) != 3 * n:
        raise ValueError("truncated PPM raster")
    it = iter(raster)
    return _PnmImage("RGB", (w, h), list(zip(it, it, it)))


def decode_image(payload: bytes) -> "object":
    """Decode an image payload: PIL when a codec is present; vendored
    pure-Python PNM (binary PPM/PGM) decode otherwise, so the REAL
    pixel path (`image_metadata`, `image_phash`, `image_phash_neardup`)
    is exercisable on genuine decoded pixels in codec-less containers;
    honest NotImplementedError for compressed formats without PIL. The
    byte-level stubs below stay the oracle-checked default either way."""
    Image = _codec()
    if Image is None:
        if payload[:2] in (b"P5", b"P6"):
            return _parse_pnm(payload)
        raise NotImplementedError(
            "image decode requires PIL/libvips for non-PNM formats; "
            "not available in this environment"
        )
    import io

    img = Image.open(io.BytesIO(payload))
    img.load()  # force decode now — surfacing codec errors at the call site
    return img


def _extract_meta(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Arrow-batched feature extraction over a binary column.

    Deterministic fake decode: byte length + md5 + synthetic dimensions
    derived from the byte length (stands in for width/height a codec
    would return)."""
    for pdf in batches:
        payloads = pdf["payload"]
        # NULL payload (a missing asset) → NULL features, matching the
        # oracle's octet_length(NULL)/md5(NULL); nullable Int64 keeps
        # the NA through the arithmetic and Arrow hands Spark a long
        # column with nulls.
        n_bytes = payloads.map(len, na_action="ignore").astype("Int64")
        yield pd.DataFrame(
            {
                "doc_id": pdf["doc_id"],
                "n_bytes": n_bytes,
                "content_hash": payloads.map(
                    lambda b: hashlib.md5(b).hexdigest(), na_action="ignore"
                ),
                "fake_width": n_bytes % 640,
                "fake_height": (n_bytes * 7) % 480,
            }
        )


def _ascii_only(docs: DataFrame) -> DataFrame:
    """Enforced invariant for the byte-level stubs whose oracles reason
    in characters: keep only pure-ASCII docs, where UTF-8 byte offsets ==
    char offsets and byte values == codepoints. Predicate is
    octet_length(utf-8) == char_length — true iff every char is ASCII —
    and is applied IDENTICALLY in the DuckDB oracles, so a non-ASCII doc
    is excluded on both sides rather than silently diverging (bytes vs
    codepoints). On the synthetic corpus (all ASCII) this drops nothing."""
    return docs.filter(
        F.octet_length(F.encode("text", "utf-8")) == F.char_length("text")
    )


# The matching oracle-side predicate (DuckDB: strings are UTF-8;
# octet_length(encode(x)) is bytes, length(x) is chars).
ASCII_PRED = "octet_length(encode(text)) = length(text)"


def multimodal_metadata(docs: DataFrame) -> DataFrame:
    """Binary-column pipeline: text → utf-8 payload (stand-in for image
    bytes) → mapInPandas metadata extraction."""
    binary = docs.select("doc_id", F.encode("text", "utf-8").alias("payload"))
    return binary.mapInPandas(_extract_meta, META_SCHEMA)


MULTIMODAL_ORACLE = """
SELECT doc_id,
       octet_length(encode(text)) AS n_bytes,
       md5(text) AS content_hash,
       octet_length(encode(text)) % 640 AS fake_width,
       (octet_length(encode(text)) * 7) % 480 AS fake_height
FROM documents
"""


# --- REAL codec path (optional dependency) -----------------------------------
# Same mapInPandas/Arrow plumbing as the stubs, but over genuinely
# decoded pixels. Only callable where PIL is installed
# (`has_image_codec()`); tests skip without it. The stub queries above
# remain the registered, oracle-checked surface in codec-less
# environments — nothing below changes their results.

IMAGE_META_SCHEMA = (
    "doc_id LONG, n_bytes LONG, content_hash STRING, width LONG, height LONG, mode STRING"
)


def _extract_image_meta(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        out: dict[str, list] = {
            "doc_id": [], "n_bytes": [], "content_hash": [],
            "width": [], "height": [], "mode": [],
        }
        for doc_id, b in zip(pdf["doc_id"], pdf["payload"]):
            b = bytes(b)
            img = decode_image(b)
            out["doc_id"].append(doc_id)
            out["n_bytes"].append(len(b))
            out["content_hash"].append(hashlib.md5(b).hexdigest())
            out["width"].append(img.size[0])
            out["height"].append(img.size[1])
            out["mode"].append(img.mode)
        yield pd.DataFrame(out)


def image_metadata(images: DataFrame) -> DataFrame:
    """REAL metadata extraction over an images relation
    (doc_id LONG, payload BINARY): width/height/mode from the decoded
    image — the codec-enabled twin of `multimodal_metadata`'s stub,
    behind the same mapInPandas batch shape. Raises on executors when
    no codec is installed (probe `has_image_codec()` first)."""
    return images.mapInPandas(_extract_image_meta, IMAGE_META_SCHEMA)


THUMB_GRID = 4
FRAME_COUNT = 3

THUMB_SCHEMA = "doc_id LONG, thumb ARRAY<INT>, n_bytes LONG"
FRAMES_SCHEMA = "doc_id LONG, frame_idx LONG, frame_hash STRING, frame_len LONG"


def _resize_stub(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Deterministic fake "resize": 4x4 grid of per-chunk byte sums mod
    256 — stands in for a thumbnail; real path needs a codec
    (decode_image raises NotImplementedError). Shows the array-column
    output schema a real embedding/thumbnail stage produces."""
    for pdf in batches:
        thumbs = []
        for b in pdf["payload"]:
            n = max(len(b), 1)
            cells = THUMB_GRID * THUMB_GRID
            step = max(n // cells, 1)
            thumbs.append(
                [sum(b[i * step : (i + 1) * step]) % 256 for i in range(cells)]
            )
        yield pd.DataFrame(
            {
                "doc_id": pdf["doc_id"],
                "thumb": thumbs,
                "n_bytes": pdf["payload"].map(len).astype("int64"),
            }
        )


def _frame_sample_stub(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Deterministic fake "frame sampling": split payload into 3 equal
    chunks ("frames"), hash each — the row-explosion shape (1 video →
    N frames) a real decoder produces."""
    for pdf in batches:
        out: dict[str, list] = {"doc_id": [], "frame_idx": [], "frame_hash": [], "frame_len": []}
        for doc_id, b in zip(pdf["doc_id"], pdf["payload"]):
            n = len(b)
            step = max(n // FRAME_COUNT, 1)
            for i in range(FRAME_COUNT):
                chunk = b[i * step : (i + 1) * step] if i < FRAME_COUNT - 1 else b[(FRAME_COUNT - 1) * step :]
                out["doc_id"].append(doc_id)
                out["frame_idx"].append(i)
                out["frame_hash"].append(hashlib.md5(chunk).hexdigest())
                out["frame_len"].append(len(chunk))
        yield pd.DataFrame(out)


def multimodal_thumbnails(docs: DataFrame) -> DataFrame:
    binary = _ascii_only(docs).select(
        "doc_id", F.encode("text", "utf-8").alias("payload")
    )
    return binary.mapInPandas(_resize_stub, THUMB_SCHEMA)


def multimodal_thumbnails_csv(docs: DataFrame) -> DataFrame:
    """Checkable projection of `multimodal_thumbnails`: the ARRAY<INT>
    thumbnail flattened to a deterministic CSV string so the result has
    a portable value-hash (raw array columns aren't canonicalizable by
    generic result comparators). The array-returning function stays the
    API; this is the registered/oracled shape."""
    thumbs = multimodal_thumbnails(docs)
    return thumbs.select(
        "doc_id",
        F.array_join(
            F.transform("thumb", lambda x: x.cast("string")), ","
        ).alias("thumb_csv"),
        "n_bytes",
    )


def multimodal_frame_sample(docs: DataFrame) -> DataFrame:
    binary = _ascii_only(docs).select(
        "doc_id", F.encode("text", "utf-8").alias("payload")
    )
    return binary.mapInPandas(_frame_sample_stub, FRAMES_SCHEMA)


# Frame oracle: chunk boundaries + md5 over substrings are expressible
# in SQL (ASCII-safe: the synthetic docs are ASCII so byte offsets ==
# char offsets; a binary-substring oracle would need blob slicing).
FRAMES_ORACLE = f"""
WITH base AS (
  SELECT doc_id, text, octet_length(encode(text)) AS n,
         greatest(octet_length(encode(text)) // {FRAME_COUNT}, 1) AS step
  FROM documents WHERE {ASCII_PRED}
),
frames AS (
  SELECT doc_id,
         unnest(generate_series(0, {FRAME_COUNT - 1})) AS frame_idx,
         n, step, text
  FROM base
)
SELECT doc_id, frame_idx,
       md5(CASE WHEN frame_idx < {FRAME_COUNT - 1}
                THEN substr(text, frame_idx * step + 1, step)
                ELSE substr(text, ({FRAME_COUNT - 1}) * step + 1) END) AS frame_hash,
       length(CASE WHEN frame_idx < {FRAME_COUNT - 1}
                THEN substr(text, frame_idx * step + 1, step)
                ELSE substr(text, ({FRAME_COUNT - 1}) * step + 1) END) AS frame_len
FROM frames
"""


# Thumbnail oracle: the fake "resize" is per-chunk byte sums mod 256 on
# ASCII payloads, so each cell is SQL-expressible — explode the text
# into ascii codes, slice per cell, sum. Python slice b[i*step:(i+1)*step]
# maps to 1-based list_slice(codes, i*step+1, (i+1)*step) (both clamp at
# the end; both yield empty past the end → coalesce 0, matching sum([])).
THUMB_CELLS = THUMB_GRID * THUMB_GRID
THUMB_ORACLE = f"""
WITH base AS (
  SELECT doc_id,
         octet_length(encode(text)) AS n_bytes,
         greatest(greatest(octet_length(encode(text)), 1) // {THUMB_CELLS}, 1) AS step,
         list_transform(string_split(text, ''), c -> ascii(c)) AS codes
  FROM documents WHERE {ASCII_PRED}
)
SELECT doc_id,
       array_to_string(
         list_transform(range({THUMB_CELLS}),
           i -> ((coalesce(list_sum(list_slice(codes, i * step + 1, (i + 1) * step)), 0) % 256)::BIGINT)::VARCHAR),
         ',') AS thumb_csv,
       n_bytes
FROM base
"""


AUDIO_SCHEMA = (
    "doc_id LONG, n_samples LONG, peak LONG, energy LONG, zero_crossings LONG"
)


def _audio_stats_stub(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Deterministic fake "waveform analysis": payload bytes as centered
    8-bit PCM samples (b - 128). Emits the classic per-clip features —
    peak amplitude, total energy (exact int64 sum of squares), zero
    crossings — that a real audio front end (librosa/ffmpeg, absent in
    this container) would produce from decoded PCM."""
    import numpy as np

    for pdf in batches:
        out: dict[str, list] = {
            "doc_id": [],
            "n_samples": [],
            "peak": [],
            "energy": [],
            "zero_crossings": [],
        }
        for doc_id, b in zip(pdf["doc_id"], pdf["payload"]):
            v = np.frombuffer(b, dtype=np.uint8).astype(np.int64) - 128
            out["doc_id"].append(doc_id)
            out["n_samples"].append(len(v))
            out["peak"].append(int(np.abs(v).max()) if len(v) else 0)
            out["energy"].append(int((v * v).sum()))
            out["zero_crossings"].append(
                int(((v[:-1] < 0) != (v[1:] < 0)).sum()) if len(v) > 1 else 0
            )
        yield pd.DataFrame(out)


def multimodal_audio_stats(docs: DataFrame) -> DataFrame:
    binary = _ascii_only(docs).select(
        "doc_id", F.encode("text", "utf-8").alias("payload")
    )
    return binary.mapInPandas(_audio_stats_stub, AUDIO_SCHEMA)


# Audio oracle: samples are ascii(code) - 128 on the ASCII payloads, so
# peak/energy are per-doc integer aggregates and zero crossings a lag
# comparison over the unnested sample sequence.
AUDIO_ORACLE = f"""
WITH base AS (
  -- DuckDB's string_split('', '') is [''] (one empty chunk), but an
  -- empty payload has ZERO samples — guard the empty doc explicitly.
  SELECT doc_id,
         CASE WHEN len(text) = 0 THEN []
              ELSE list_transform(string_split(text, ''), c -> ascii(c) - 128)
         END AS v
  FROM documents WHERE {ASCII_PRED}
),
s AS (
  SELECT doc_id, i, v[i] AS x
  FROM base, unnest(generate_series(1, len(v))) AS t(i)
),
lagged AS (
  SELECT doc_id, x,
         lag(x) OVER (PARTITION BY doc_id ORDER BY i) AS px
  FROM s
),
agg AS (
  SELECT doc_id, COUNT(*)::BIGINT AS n_samples,
         MAX(abs(x))::BIGINT AS peak,
         CAST(SUM(x * x) AS BIGINT) AS energy,
         CAST(SUM(CASE WHEN px IS NOT NULL AND ((px < 0) <> (x < 0))
                       THEN 1 ELSE 0 END) AS BIGINT) AS zero_crossings
  FROM lagged GROUP BY doc_id
)
SELECT b.doc_id, COALESCE(a.n_samples, 0) AS n_samples,
       COALESCE(a.peak, 0) AS peak, COALESCE(a.energy, 0) AS energy,
       COALESCE(a.zero_crossings, 0) AS zero_crossings
FROM base b LEFT JOIN agg a ON b.doc_id = a.doc_id
"""


PHASH_BITS = 60
PHASH_MAX_HAMMING = 3
PHASH_SCHEMA = "doc_id LONG, phash LONG"


def _phash_stub(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Deterministic blocked-mean perceptual hash over the payload
    bytes: bit i = (chunk i's byte sum) * PHASH_BITS > total — i.e.
    "chunk mean above global mean", the blockhash/aHash construction,
    computed in exact integers (cross-multiplication, no division).
    Real image pHash runs a DCT over decoded pixels (codec absent);
    the hash/banding plumbing is identical."""
    for pdf in batches:
        out: dict[str, list] = {"doc_id": [], "phash": []}
        for doc_id, b in zip(pdf["doc_id"], pdf["payload"]):
            n = len(b)
            # BALANCED chunk boundaries [i*n/B, (i+1)*n/B): every byte
            # lands in exactly one chunk and, for n >= PHASH_BITS, no
            # chunk is empty (a fixed floor step drops up to step-1
            # tail bytes — tail-only-different payloads would alias to
            # hamming 0 — and a ceil step leaves trailing empty chunks
            # even on payloads much longer than PHASH_BITS). Payloads
            # SHORTER than PHASH_BITS bytes necessarily have empty
            # chunks and partially collapse — acceptable: sub-60-byte
            # "images" carry no signal worth discriminating.
            sums = [
                sum(b[i * n // PHASH_BITS : (i + 1) * n // PHASH_BITS])
                for i in range(PHASH_BITS)
            ]
            total = sum(sums)
            h = 0
            for i, s in enumerate(sums):
                if s * PHASH_BITS > total:
                    h |= 1 << i
            out["doc_id"].append(doc_id)
            out["phash"].append(h)
        yield pd.DataFrame(out)


def multimodal_phash(docs: DataFrame) -> DataFrame:
    """Per-doc perceptual hash (library API; the near-dup pair query
    below is the registered surface)."""
    binary = _ascii_only(docs).select(
        "doc_id", F.encode("text", "utf-8").alias("payload")
    )
    return binary.mapInPandas(_phash_stub, PHASH_SCHEMA)


def multimodal_phash_neardup(
    docs: DataFrame, max_hamming: int = PHASH_MAX_HAMMING
) -> DataFrame:
    """(id_a, id_b, hamming) — perceptual-hash near-duplicate pairs
    over the binary payloads: image-style near-dup detection for the
    multimodal column, the visual sibling of `simhash_near_dups`, and
    screened by the same exact banded hamming screen
    (`dedup.hamming_near_pairs`: 4 bands of 15 bits, a keyed band
    self-join, exact popcount before the distinct). 15-bit bands give
    32k buckets per band; an earlier 16-bit hash with 4-bit bands had
    16 buckets and made 307k candidate pairs out of 5000 docs.

    Scale: production uses a 64-bit DCT pHash with the identical
    band-join shape; a hot band bucket (near-constant images) is
    pre-grouped by exact hash first, like minhash_lsh_pairs'
    exact-dup pre-group.

    The signature relation is cached: both self-join sides derive from
    the mapInPandas stage, and without the cache Spark plans that
    Python/Arrow stage once PER SIDE — hashing every payload twice.
    The cached relation is 2 narrow columns (same rule as dedup.py's
    shingle cache; bench clears caches between passes)."""
    return hamming_near_pairs(
        multimodal_phash(docs).cache(), "phash", max_hamming, "id_a", "id_b"
    )


PHASH_ORACLE = f"""
WITH base AS (
  SELECT doc_id,
         octet_length(encode(text)) AS n,
         list_transform(string_split(text, ''), c -> ascii(c)) AS codes
  FROM documents WHERE {ASCII_PRED}
),
sums AS (
  SELECT doc_id,
         list_transform(range({PHASH_BITS}),
           i -> coalesce(list_sum(list_slice(codes, (i * n) // {PHASH_BITS} + 1, ((i + 1) * n) // {PHASH_BITS})), 0)::BIGINT) AS cs
  FROM base
),
ph AS (
  SELECT doc_id,
         list_sum(list_transform(range({PHASH_BITS}),
           i -> CASE WHEN cs[i + 1] * {PHASH_BITS} > list_sum(cs)
                THEN (1::BIGINT << i) ELSE 0::BIGINT END))::BIGINT AS phash
  FROM sums
)
{_hamming_pairs_sql("ph", "phash", PHASH_MAX_HAMMING, "id_a", "id_b")}
"""


PHASH_GRID_W = 10
PHASH_GRID_H = 6  # 10 x 6 = PHASH_BITS cells


def _image_phash_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """REAL perceptual hash: decode → grayscale → bilinear downscale to
    a 10x6 grid (60 cells = PHASH_BITS) → bit i set iff cell i is above
    the global mean (same exact-integer cross-multiplication as the
    stub, so the signature width, banding, and verification are shared
    verbatim). With PIL the resample filter is pinned to BILINEAR for
    cross-version determinism; the codec-less PNM fallback downscales
    by exact area average (see _PnmImage — deterministic within a
    backend)."""
    Image = _codec()

    for pdf in batches:
        out: dict[str, list] = {"doc_id": [], "phash": []}
        for doc_id, b in zip(pdf["doc_id"], pdf["payload"]):
            gray = decode_image(bytes(b)).convert("L")
            if Image is not None and not isinstance(gray, _PnmImage):
                img = gray.resize(
                    (PHASH_GRID_W, PHASH_GRID_H), Image.Resampling.BILINEAR
                )
            else:
                img = gray.resize((PHASH_GRID_W, PHASH_GRID_H))
            px = list(img.getdata())  # 60 grayscale cells, row-major
            total = sum(px)
            h = 0
            for i, p in enumerate(px):
                if p * PHASH_BITS > total:
                    h |= 1 << i
            out["doc_id"].append(doc_id)
            out["phash"].append(h)
        yield pd.DataFrame(out)


def image_phash(images: DataFrame) -> DataFrame:
    """Real-pixel perceptual hash over (doc_id, payload) — same
    (doc_id, phash LONG) schema as the stub signature, so every
    downstream consumer (banding, near-dup join) is shared. Codec
    required (`has_image_codec()`)."""
    return images.mapInPandas(_image_phash_batches, PHASH_SCHEMA)


def image_phash_neardup(
    images: DataFrame, max_hamming: int = PHASH_MAX_HAMMING
) -> DataFrame:
    """(id_a, id_b, hamming) — near-duplicate image pairs from the
    REAL pHash, through the same hamming screen as
    `multimodal_phash_neardup`; only the signature producer differs."""
    return hamming_near_pairs(
        image_phash(images).cache(), "phash", max_hamming, "id_a", "id_b"
    )


MULTIMODAL_QUERIES = [
    QueryDef(
        "multimodal_metadata",
        lambda s, d: multimodal_metadata(load_table(s, d, "documents")),
        MULTIMODAL_ORACLE,
    ),
    QueryDef(
        "multimodal_frame_sample",
        lambda s, d: multimodal_frame_sample(load_table(s, d, "documents")),
        FRAMES_ORACLE,
    ),
    # Registered as the CSV projection so the result is canonicalizable
    # (raw ARRAY<INT> broke the external comparator's pandas sort); the
    # array-returning multimodal_thumbnails stays the library API.
    QueryDef(
        "multimodal_thumbnails",
        lambda s, d: multimodal_thumbnails_csv(load_table(s, d, "documents")),
        THUMB_ORACLE,
    ),
    QueryDef(
        "multimodal_audio_stats",
        lambda s, d: multimodal_audio_stats(load_table(s, d, "documents")),
        AUDIO_ORACLE,
    ),
    QueryDef(
        "multimodal_phash_neardup",
        lambda s, d: multimodal_phash_neardup(load_table(s, d, "documents")),
        PHASH_ORACLE,
    ),
]
