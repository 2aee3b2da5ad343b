"""Perceptual image fingerprints (dHash / aHash) and Hamming-banded
near-duplicate joins over REAL decoded pixels.

Image near-dup is the multimodal face of the dedup surface: a 100 TB
crawl corpus carries re-encoded / resized copies of the same picture
that byte-level hashing can never catch.  The classic cheap answer is
a 64-bit perceptual hash — decode, integer luma, fixed-grid area
downsample, gradient (dHash) or mean-threshold (aHash) bits — and then
a Hamming-distance join.  Both halves are built to scale:

* the hash is ONE Arrow-batched narrow ``mapInPandas`` stage over the
  payload column (decode cost only; no shuffle), and
* the pair join reuses the pigeonhole band join from
  :func:`parquet_converters_spark.functions.dedup.simhash_neardup_pairs`
  (split 64 bits into ``bands`` slices; any pair within Hamming
  distance ``bands - 1`` agrees exactly on >= 1 band), so candidate
  generation is an equi-join shuffle on (band, value) — never an
  all-pairs product.

Every arithmetic step is integer and deterministic (floor division
everywhere) so the full decode -> luma -> grid -> hash path is
replicable analytically — the driver oracle for the census queries
computes the same bits in pure SQL.

Reference analogue: none (`/root/reference` has no media surface) —
this extends the training-data-pipeline surface alongside the text
dedup family (dedup.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

# dHash grid: 9 luma columns -> 8 gradient bits per row, 8 rows.
DHASH_GRID_W = 9
DHASH_GRID_H = 8
# aHash grid: 8x8 cells vs the global cell mean.
AHASH_GRID = 8


def still_image_decoders() -> list:
    """Ordered ``(predicate, decoder)`` table for every
    in-repo-decodable STILL image format — the ONE dispatch shared by
    :func:`decode_image_pixels` and ``multimodal._real_decode`` (a new
    codec lands in both surfaces by extending this list)."""
    from parquet_converters_spark.functions.gif_codec import (
        decode_gif,
        is_gif,
    )
    from parquet_converters_spark.functions.jpeg_codec import (
        decode_jpeg,
        is_jpeg,
    )
    from parquet_converters_spark.functions.media_codecs import (
        _PNG_SIG,
        decode_bmp,
        decode_png,
        is_bmp,
    )
    from parquet_converters_spark.functions.tiff_codec import decode_tiff
    from parquet_converters_spark.functions.webp_codec import (
        decode_webp,
        is_webp,
    )

    return [
        (lambda p: p[:8] == _PNG_SIG, decode_png),
        (is_webp, decode_webp),
        (is_jpeg, decode_jpeg),
        (is_gif, decode_gif),
        (is_bmp, decode_bmp),
        (lambda p: p[:4] in (b"II*\x00", b"MM\x00*"), decode_tiff),
    ]


def decode_image_pixels(payload: bytes) -> tuple[int, int, int, bytes]:
    """Decode any in-repo-decodable STILL image payload to ``(w, h,
    channels, pixels)``; other formats raise ``NotImplementedError``
    naming what is supported."""
    for pred, dec in still_image_decoders():
        if pred(payload):
            return dec(payload)
    raise NotImplementedError(
        "image fingerprint: payload is not a decodable still image "
        "(PNG/WebP/JPEG/GIF/BMP/TIFF); video thumbnails go through "
        "multimodal.decode_media first"
    )


def luma_grid(
    w: int, h: int, channels: int, pixels: bytes, gw: int, gh: int
) -> list[list[int]]:
    """Integer luma + area-average downsample to a ``gw x gh`` grid.

    Luma per pixel is the ITU-R BT.601 integer form
    ``(299*R + 587*G + 114*B) // 1000`` (gray pixels map to themselves
    exactly; alpha ignored).  Cell ``(j, i)`` averages the pixel block
    ``x in [i*w//gw, (i+1)*w//gw) x y in [j*h//gh, (j+1)*h//gh)`` with
    floor division — all-integer, so the whole path is closed-form
    replicable (the census oracles recompute it in SQL)."""
    if w < gw or h < gh:
        raise ValueError(
            f"image fingerprint: {w}x{h} image is smaller than the "
            f"{gw}x{gh} hash grid; resize up first"
        )
    import numpy as np

    arr = np.frombuffer(pixels, dtype=np.uint8).reshape(h, w, channels)
    if channels >= 3:
        a = arr.astype(np.int64)
        luma = (299 * a[:, :, 0] + 587 * a[:, :, 1] + 114 * a[:, :, 2]) // 1000
    else:
        luma = arr[:, :, 0].astype(np.int64)
    xb = [i * w // gw for i in range(gw + 1)]
    yb = [j * h // gh for j in range(gh + 1)]
    grid = []
    for j in range(gh):
        row = []
        for i in range(gw):
            block = luma[yb[j] : yb[j + 1], xb[i] : xb[i + 1]]
            row.append(int(block.sum()) // block.size)
        grid.append(row)
    return grid


def _dhash_bits(grid) -> int:
    """Pack a 9x8 luma grid into the 64 dHash bits: bit ``y*8 + x`` is
    set when ``grid[y][x+1] > grid[y][x]`` (strict) — the ONE
    definition shared by the payload-level functions and the Spark
    stage."""
    out = 0
    for y in range(DHASH_GRID_H):
        for x in range(DHASH_GRID_W - 1):
            if grid[y][x + 1] > grid[y][x]:
                out |= 1 << (y * 8 + x)
    return out


def _ahash_bits(grid) -> int:
    """Pack an 8x8 luma grid into the 64 aHash bits: bit ``y*8 + x``
    is set when the cell exceeds the floor of the global cell mean
    (strict)."""
    mean = sum(sum(row) for row in grid) // (AHASH_GRID * AHASH_GRID)
    out = 0
    for y in range(AHASH_GRID):
        for x in range(AHASH_GRID):
            if grid[y][x] > mean:
                out |= 1 << (y * 8 + x)
    return out


def dhash64_unsigned(payload: bytes) -> int:
    """64-bit difference hash of a decodable still image."""
    w, h, c, pixels = decode_image_pixels(payload)
    return _dhash_bits(luma_grid(w, h, c, pixels, DHASH_GRID_W, DHASH_GRID_H))


def ahash64_unsigned(payload: bytes) -> int:
    """64-bit average hash of a decodable still image."""
    w, h, c, pixels = decode_image_pixels(payload)
    return _ahash_bits(luma_grid(w, h, c, pixels, AHASH_GRID, AHASH_GRID))


def to_signed64(u: int) -> int:
    """Two's-complement fold of an unsigned 64-bit value into the
    signed LongType domain (what the hash columns store)."""
    return u - (1 << 64) if u >= (1 << 63) else u


def bmp_realizing_dhash(target: int, base: int = 100) -> bytes:
    """Craft a 9x8 grayscale BMP whose :func:`dhash64_unsigned` is
    exactly ``target``: walk each row left to right stepping luma +1
    for a set bit and -1 for a clear bit (strict ``>`` makes each step
    realize its bit).  Test/oracle machinery for exercising the REAL
    decode path with a known hash — 64 steps of +-1 stay within
    [base-8, base+8], far from clipping."""
    from parquet_converters_spark.functions.media_craft import gray_bmp

    return gray_bmp(rows_realizing_dhash(target, base))


def rows_realizing_dhash(target: int, base: int = 100) -> list[list[int]]:
    """The pixel grid behind :func:`bmp_realizing_dhash`, exposed so
    other containers (e.g. animated-GIF frames in the video census)
    can wrap the same hash-realizing luma walk."""
    rows = []
    for y in range(DHASH_GRID_H):
        v = base
        row = [v]
        for x in range(DHASH_GRID_W - 1):
            v += 1 if (target >> (y * 8 + x)) & 1 else -1
            row.append(v)
        rows.append(row)
    return rows


def image_hashes(
    df: DataFrame,
    payload_col: str = "payload",
    id_col: str = "media_id",
    carry_cols: tuple = (),
) -> DataFrame:
    """Per-image perceptual hashes: ``(id, dhash, ahash, width,
    height)`` with both hashes as signed 64-bit longs.

    ONE Arrow-batched narrow stage (``mapInPandas``) — decode + luma +
    grid + bits per payload, no shuffle, no driver-side bytes; scales
    linearly in corpus payload bytes like the other codec stages.

    ``carry_cols`` copies extra input columns through unchanged (e.g.
    an event-time column for the streaming dedup gate) — the stage
    stays stateless, so it runs on streaming DataFrames too."""
    from pyspark.sql.types import (
        IntegerType,
        LongType,
        StructField,
        StructType,
    )

    out_schema = StructType(
        [
            StructField(id_col, LongType()),
            StructField("dhash", LongType()),
            StructField("ahash", LongType()),
            StructField("width", IntegerType()),
            StructField("height", IntegerType()),
        ]
        + [df.schema[c] for c in carry_cols]
    )

    def run(batches):
        import pandas as pd

        for pdf in batches:
            ids, dh, ah, ws, hs = [], [], [], [], []
            for payload in pdf[payload_col]:
                payload = bytes(payload)
                w, h, c, pixels = decode_image_pixels(payload)
                d = _dhash_bits(
                    luma_grid(w, h, c, pixels, DHASH_GRID_W, DHASH_GRID_H)
                )
                a = _ahash_bits(
                    luma_grid(w, h, c, pixels, AHASH_GRID, AHASH_GRID)
                )
                dh.append(to_signed64(d))
                ah.append(to_signed64(a))
                ws.append(w)
                hs.append(h)
            out = {
                id_col: pdf[id_col],
                "dhash": dh,
                "ahash": ah,
                "width": ws,
                "height": hs,
            }
            for c in carry_cols:
                out[c] = pdf[c]
            yield pd.DataFrame(out)

    return df.mapInPandas(run, out_schema)


def image_dedup_gate(
    df: DataFrame,
    payload_col: str = "payload",
    id_col: str = "media_id",
    ts_col: str = "ts",
    watermark: str = "1 hour",
) -> DataFrame:
    """Perceptual exactly-once: ONE image per dHash passes, every
    other pixel-identical (or re-containered) copy is dropped — the
    image face of ``streaming.events.dedup_events``.  Streaming input
    uses ``dropDuplicatesWithinWatermark`` on the hash (the first
    arrival within the watermark wins; state expires once the
    watermark passes — bounded memory); batch input uses plain
    ``dropDuplicates``, which keeps an ARBITRARY representative per
    hash — aggregate hash-level facts (count, popcount, masked bits)
    downstream when the output must be deterministic.  Both legs emit
    the same schema (``ts_col`` rides through when present)."""
    carry = (ts_col,) if ts_col in df.columns else ()
    sig = image_hashes(
        df, payload_col=payload_col, id_col=id_col, carry_cols=carry
    )
    if df.isStreaming:
        return sig.withWatermark(ts_col, watermark)\
            .dropDuplicatesWithinWatermark(["dhash"])
    return sig.dropDuplicates(["dhash"])


def hamming_neardup_pairs(
    sig: DataFrame,
    id_col: str = "media_id",
    hash_col: str = "dhash",
    bands: int = 4,
    max_hamming: int = 3,
) -> DataFrame:
    """Near-duplicate image pairs at Hamming distance <= ``max_hamming``
    over a 64-bit perceptual-hash column — the simhash pigeonhole band
    join applied to image fingerprints (exact: ``max_hamming < bands``
    guarantees agreement on >= 1 band, so banding loses no qualifying
    pair).  Returns ``(id_a, id_b, hamming)``."""
    from parquet_converters_spark.functions.dedup import (
        simhash_neardup_pairs,
    )

    renamed = sig.select(
        sig[id_col].alias(id_col), sig[hash_col].alias("simhash")
    )
    return simhash_neardup_pairs(
        renamed,
        id_col=id_col,
        bits=64,
        bands=bands,
        max_hamming=max_hamming,
        sig=renamed,
    )


def image_neardup_survivors(
    df: DataFrame,
    payload_col: str = "payload",
    id_col: str = "media_id",
    bands: int = 4,
    max_hamming: int = 3,
    cc_method: str = "hash_to_min",
    materialize: bool = False,
    hash_col: str = "dhash",
) -> DataFrame:
    """The image face of the dedup funnel (the
    ``dedup.near_dedup_survivors`` composition over perceptual hashes):
    dHash every payload, find Hamming-banded near-dup pairs, cluster
    them with connected components, and keep only each cluster's
    minimum id.  Returns the surviving subset of ``df`` (all original
    columns).  Exact byte-dup collapse is implicit — identical pixels
    hash identically, landing at Hamming distance 0.  ``hash_col``
    picks the fingerprint ("dhash" default; "ahash" for the
    mean-threshold variant).

    ``materialize=True`` returns an EAGER localCheckpoint and releases
    the connected-components checkpoints it subsumes — the no-residue
    form for long-lived sessions (what ``near_dedup_survivors``
    always returns); the default stays lazy."""
    from parquet_converters_spark.operators.graph import (
        connected_components,
    )
    from parquet_converters_spark.session import free_local_checkpoints

    sig = image_hashes(df, payload_col=payload_col, id_col=id_col)
    pairs = hamming_neardup_pairs(
        sig, id_col=id_col, hash_col=hash_col,
        bands=bands, max_hamming=max_hamming,
    )
    comps = connected_components(
        pairs, src="id_a", dst="id_b", method=cc_method
    )
    losers = comps.filter(F.col("node") != F.col("component")).select(
        F.col("node").alias(id_col)
    )
    out = df.join(losers, id_col, "left_anti")
    if materialize:
        out = out.localCheckpoint(eager=True)
        free_local_checkpoints(comps)
    return out


def video_frame_hashes(
    df: DataFrame,
    payload_col: str = "payload",
    id_col: str = "media_id",
    every_ms: int = 1000,
    max_frames: int = 4,
) -> DataFrame:
    """Per-frame perceptual hashes for VIDEO payloads — the frame-level
    near-dup key for re-encoded clips: ``multimodal.sample_frames``
    (tick-sampled, container-demuxed, PNG/JPEG frame payloads) piped
    into :func:`image_hashes` with ``frame_index``/``frame_ts_ms``
    carried through the hash stage.  Returns ``(id, frame_index,
    frame_ts_ms, dhash, ahash, width, height)``; both stages are
    Arrow-batched narrow maps, so the whole chain is shuffle- and
    join-free (and therefore safe under duplicate ids)."""
    from parquet_converters_spark.functions.multimodal import sample_frames

    frames = sample_frames(
        df.select(
            F.col(id_col).alias("media_id"),
            F.col(payload_col).alias("payload"),
        ),
        every_ms=every_ms,
        max_frames=max_frames,
    )
    sig = image_hashes(
        frames,
        id_col="media_id",
        carry_cols=("frame_index", "frame_ts_ms"),
    )
    return sig.select(
        F.col("media_id").alias(id_col),
        "frame_index",
        "frame_ts_ms",
        "dhash",
        "ahash",
        "width",
        "height",
    )


PHASH_INPUT = 32  # 32x32 luma grid -> 8x8 low-frequency DCT corner


def phash64_unsigned(payload: bytes) -> int:
    """64-bit DCT perceptual hash (the classic pHash): 32x32 luma
    grid -> 2-D DCT-II -> top-left 8x8 low-frequency block -> bit set
    when the coefficient exceeds the median of the 63 non-DC entries.
    More robust than dHash to blur/re-encode noise (it keeps only the
    lowest spatial frequencies) at ~4x the arithmetic.

    Float DCT means this is NOT closed-form SQL-replicable, so it is
    pytest-gated (the sketches convention) rather than driver-oracled;
    determinism on one cluster is IEEE (fixed matrix product, single
    numpy build).  Images smaller than 32x32 raise ``ValueError`` —
    resize up first."""
    import numpy as np

    w, h, c, pixels = decode_image_pixels(payload)
    grid = np.asarray(
        luma_grid(w, h, c, pixels, PHASH_INPUT, PHASH_INPUT),
        dtype=np.float64,
    )
    n = PHASH_INPUT
    k = np.arange(n).reshape(-1, 1)
    x = np.arange(n).reshape(1, -1)
    dct = np.cos(np.pi * (2 * x + 1) * k / (2 * n))
    low = (dct @ grid @ dct.T)[:8, :8]
    flat = low.flatten()
    med = float(np.median(flat[1:]))  # exclude DC
    out = 0
    for i, v in enumerate(flat):
        if i and v > med:
            out |= 1 << i
    return out


#: the 36 units of Z/63 (coprime to 63) — the closed-form pattern
#: family behind :func:`phash_target` / ``image_phash_census``: unit k
#: permutes bit positions 1..62 by ``p -> p*k mod 63``, and "residue
#: <= 31" selects EXACTLY 31 of them (the nonzero residues 1..31).
PHASH_UNITS = tuple(
    k for k in range(1, 63) if k % 3 != 0 and k % 7 != 0
)


def phash_target(variant: int) -> tuple[int, float]:
    """``(target_hash, amplitude)`` for pHash-census variant
    ``variant`` (callers pass ``doc_id % 180``): unit
    ``PHASH_UNITS[variant % 36]`` picks which 31 of bit positions
    1..62 are set; the amplitude ladder ``300 + 30 * (variant // 36)``
    varies the PIXELS without changing the hash — five byte-distinct
    images per pattern, so the census's ``n`` per hash asserts the
    dedup collapse.  Bits 0 (DC) and 63 (the zero-pinned median
    coefficient, see :func:`bmp_realizing_phash`) are never set."""
    k = PHASH_UNITS[variant % 36]
    target = 0
    for p in range(1, 63):
        if (p * k) % 63 <= 31:
            target |= 1 << p
    return target, 300.0 + 30.0 * ((variant // 36) % 5)


def bmp_realizing_phash(target: int, amp: float = 400.0) -> bytes:
    """Craft a 32x32 grayscale BMP whose :func:`phash64_unsigned` is
    exactly ``target``, by DCT SYNTHESIS: the 8x8 low-frequency
    coefficient block is pinned to ``+amp`` for set bits, ``-amp`` for
    clear bits, and ``0`` for flat index 63 — with EXACTLY 31 set bits
    among positions 1..62, the 63 non-DC coefficients sort as 31 at
    -amp, the pinned 0, 31 at +amp, so the median IS the pinned
    coefficient and every bit comparison carries an ``amp``-sized
    margin (float noise and integer rounding are orders of magnitude
    smaller; the strict ``>`` of the median element against itself is
    False by identity).  Positions 0 (DC) and 63 must be clear and the
    popcount must be 31 — anything else would park the median inside
    a +-amp cluster, a knife edge this function refuses by name.

    The inverse transform uses the orthogonality of the DCT-II rows
    (``row_k . row_k = n`` for k=0, ``n/2`` otherwise), so each target
    coefficient maps to one scaled basis outer product; pixel swing is
    bounded by ``sum amp/(s_k*s_l) < 0.25*amp`` around gray 128."""
    import numpy as np

    if target & 1 or target >> 63:
        raise ValueError(
            "bmp_realizing_phash: bits 0 (DC) and 63 (the median "
            "coefficient) must be clear in the target"
        )
    if bin(target).count("1") != 31:
        raise ValueError(
            "bmp_realizing_phash: the target must set EXACTLY 31 of "
            "bit positions 1..62 — any other count parks the median "
            "inside a +-amp cluster (no margin)"
        )
    n = PHASH_INPUT
    k = np.arange(n).reshape(-1, 1)
    x = np.arange(n).reshape(1, -1)
    dct = np.cos(np.pi * (2 * x + 1) * k / (2 * n))
    grid = np.full((n, n), 128.0)
    for i in range(1, 63):
        kk, ll = divmod(i, 8)
        sk = float(n) if kk == 0 else n / 2.0
        sl = float(n) if ll == 0 else n / 2.0
        sigma = 1.0 if (target >> i) & 1 else -1.0
        grid += (sigma * amp / (sk * sl)) * np.outer(dct[kk], dct[ll])
    rows = np.clip(np.rint(grid), 0, 255).astype(int).tolist()
    from parquet_converters_spark.functions.media_craft import gray_bmp

    return gray_bmp(rows)


def image_phashes(
    df: DataFrame,
    payload_col: str = "payload",
    id_col: str = "media_id",
) -> DataFrame:
    """Per-image DCT pHash as a signed 64-bit long: ``(id, phash)`` —
    the same ONE Arrow-batched narrow stage shape as
    :func:`image_hashes`, just the 32x32 luma grid and the
    :func:`phash64_unsigned` DCT path instead of the 9x8/8x8 grids.
    Kept separate because pHash pays a 32x32 decode+DCT per payload
    (~4x dHash arithmetic) — pipelines that only need dHash/aHash
    shouldn't pay it."""
    from pyspark.sql.types import LongType, StructField, StructType

    out_schema = StructType(
        [StructField(id_col, LongType()), StructField("phash", LongType())]
    )

    def run(batches):
        import pandas as pd

        for pdf in batches:
            ids, ph = [], []
            for mid, payload in zip(pdf[id_col], pdf[payload_col]):
                ids.append(int(mid))
                ph.append(to_signed64(phash64_unsigned(bytes(payload))))
            yield pd.DataFrame({id_col: ids, "phash": ph})

    return df.mapInPandas(run, out_schema)


def phash_pair_target(doc_id: int) -> tuple[int, float]:
    """``(target_hash, amplitude)`` for ``image_phash_neardup``
    (doc_ids with ``doc_id % 8 < 2``): pairs ``(8q, 8q+1)`` share unit
    ``PHASH_UNITS[q % 36]`` and a base diversifier of ``4 * (q//36 %
    8)`` residue swaps, and the ``r=1`` member applies ``q % 4`` MORE
    swaps — each swap toggles one set and one unset residue, so
    popcount stays 31 (the synthesis precondition) and the pair's
    Hamming distance is exactly ``2 * (q % 4)``.

    Bit at position p (1..62): with residue ``t = p*k mod 63``, the
    base sets t <= 31, the diversifier flips ``t in [32-4c, 31] u
    [63-4c, 62]`` (c = 4*(q//36 % 8) <= 28, so the union never covers
    all residues — at c >= 8 rungs it would degenerate to the exact
    complement, one identical base for every level, which is why the
    ladder stops at 8), and the pair member flips ``t in [1, s] u
    [32, 31+s]`` (s = q % 4, disjoint from the diversifier ranges for
    c <= 7, s <= 3).

    Distance structure (what a consumer may rely on): same-unit
    diversifier levels sit exactly ``8*|c1-c2|`` apart (>= 8).  Cross-
    UNIT coincidences exist and are EXPECTED output, not construction
    error: ``pattern(63-k)`` is the exact complement of
    ``pattern(k)``, so complementary units whose diversifier levels
    sum to 8 sit at distance ``8*(c+c') - 62 = 2`` and qualify.  Both
    the engine (through the real DCT path — round-trip is bit-exact)
    and the oracle (brute-force over the same arithmetic) grade every
    such pair identically, so the query output is well-defined; only
    the (8q, 8q+1) family has CONSTRUCTED distances."""
    q, r = doc_id // 8, doc_id % 8
    k = PHASH_UNITS[q % 36]
    c4 = 4 * ((q // 36) % 8)
    s = q % 4 if r == 1 else 0
    target = 0
    for p in range(1, 63):
        t = (p * k) % 63
        bit = t <= 31
        if 32 - c4 <= t <= 31 or 63 - c4 <= t <= 62:
            bit = not bit
        if r == 1 and (1 <= t <= s or 32 <= t <= 31 + s):
            bit = not bit
        if bit:
            target |= 1 << p
    return target, 300.0 + 30.0 * ((q + r) % 5)
