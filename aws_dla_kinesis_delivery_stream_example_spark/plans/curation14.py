"""Round-14 second batch: perceptual image near-dup detection (q146).

Production multimodal pipelines dedup images BEFORE any embedding
model touches them (LAION and DataComp both run a cheap perceptual
hash pass; the text-side analogue is this catalog's q25..q28 family).
q146 is the image-side member: dHash (Krawetz's difference hash) over
DECODED pixels — grayscale, nearest-neighbor downsample to a 9x8
grid, one bit per horizontal neighbor comparison, 64 bits carried as
4 x 16-bit band integers — then band equi-join blocking + exact
Hamming verify, the q28 Manku-banding discipline transplanted from
token space to pixel space.

Bench fixture: the container has no real images (multimodal module
docstring), so the catalog face SYNTHESIZES a real uncompressed BMP
per document whose pixels come from the engine-portable md5 formula
(operators/multimodal.py::_dhash_pixel — the hash60 convention):
pixel(seed, x, y) = md5-60-bit('seed_x_y') % 256. The Spark face does
the REAL work — encode actual BMP bytes, parse them back with the
real decoder, numpy downsample, bit packing — while the ORACLE
recomputes the hash closed-form from the same md5 arithmetic without
decoding a byte. Near-dup stratum (q143's planted-stratum
convention): doc_id % 9 in {0, 1} share one content seed with the
% 9 == 1 member flipping ONE full-res pixel by +128, so every
9-block contributes a planted near-dup pair at Hamming <= 1 that is
NOT byte-identical; all other pairs sit at the ~32-bit distance of
independent hashes, giving the verify stage real work (band-value
collisions ~2^-16 per band surface a few false candidates it must
kill).

Grid arithmetic parity: resize_nearest picks src = i * in // out, and
18x16 -> 9x8 makes that exactly (2x, 2y) — the oracle evaluates the
formula only at those grid cells, the Spark face decodes all 288 and
downsamples; any drift in the decoder, the resize index math, or the
bit packing fails the hash.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..operators import multimodal as MM
from ..sources.tables import load_table
from .catalog import query

# Semantic spec (q28 convention): ALL pairs with dHash Hamming <= 3.
# The banding is pure acceleration — recall-guaranteed by pigeonhole
# (<= 3 differing bits damage <= 3 of the 4 bands), so the oracle
# states the spec directly over closed-form signatures.
_DHASH_ORACLE = """
        WITH docs AS (
            SELECT doc_id,
                   CASE WHEN doc_id % 9 <= 1
                        THEN doc_id // 9 * 9 ELSE doc_id END AS seed,
                   (doc_id % 9 = 1) AS pert
            FROM documents
        ),
        cells AS (
            -- grid cell (x, y) samples full-res pixel (2x, 2y): the
            -- resize_nearest index (i * 18 // 9, j * 16 // 8)
            SELECT d.doc_id, x.x, y.y,
                   (CAST('0x' || substring(md5(d.seed || '_' || (2 * x.x)
                                               || '_' || (2 * y.y)), 1, 15)
                         AS BIGINT) % 256
                    + CASE WHEN d.pert AND x.x = 0 AND y.y = 0
                           THEN 128 ELSE 0 END) % 256 AS p
            FROM docs d, generate_series(0, 8) AS x(x),
                         generate_series(0, 7) AS y(y)
        ),
        bits AS (
            SELECT a.doc_id, a.y * 8 + a.x AS j,
                   CASE WHEN b.p > a.p THEN 1 ELSE 0 END AS bit
            FROM cells a
            JOIN cells b ON b.doc_id = a.doc_id AND b.y = a.y
                        AND b.x = a.x + 1
            WHERE a.x < 8
        ),
        sigs AS (
            SELECT doc_id,
                   CAST(sum(CASE WHEN j < 16
                                 THEN bit * (1 << j) ELSE 0 END) AS BIGINT) AS b0,
                   CAST(sum(CASE WHEN j >= 16 AND j < 32
                                 THEN bit * (1 << (j - 16)) ELSE 0 END) AS BIGINT) AS b1,
                   CAST(sum(CASE WHEN j >= 32 AND j < 48
                                 THEN bit * (1 << (j - 32)) ELSE 0 END) AS BIGINT) AS b2,
                   CAST(sum(CASE WHEN j >= 48
                                 THEN bit * (1 << (j - 48)) ELSE 0 END) AS BIGINT) AS b3
            FROM bits GROUP BY doc_id
        )
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               CAST(bit_count(xor(a.b0, b.b0)) + bit_count(xor(a.b1, b.b1))
                  + bit_count(xor(a.b2, b.b2)) + bit_count(xor(a.b3, b.b3))
                    AS INT) AS hamming
        FROM sigs a JOIN sigs b ON a.doc_id < b.doc_id
        WHERE bit_count(xor(a.b0, b.b0)) + bit_count(xor(a.b1, b.b1))
            + bit_count(xor(a.b2, b.b2)) + bit_count(xor(a.b3, b.b3)) <= 3
        ORDER BY doc_a, doc_b
    """


@query(
    "q146_image_dhash_dedup",
    oracle=_DHASH_ORACLE,
    description="Perceptual image near-dup pairs (dHash Hamming <= 3) "
    "over REAL decoded BMP payloads: synthesize a deterministic "
    "grayscale BMP per document (md5-formula pixels, engine-portable), "
    "decode + 9x8 nearest-neighbor downsample + 64-bit difference "
    "hash in an Arrow batch, then 4 x 16-bit band equi-join blocking "
    "(recall-guaranteed for Hamming <= 3 by pigeonhole) + exact "
    "bit_count(xor) verify — the image-side member of the q25..q28 "
    "dedup family; planted 9-block near-dup pairs at Hamming <= 1 "
    "keep the report non-vacuous while independent images give the "
    "verify stage false candidates to kill",
    tags=("llm", "multimodal", "dedup"),
)
def q146_image_dhash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: pixels are born, decoded, and hashed INSIDE one
    Arrow-batched scan stage — the payload column never crosses an
    exchange (multimodal house rule); everything that shuffles is the
    5-int signature table (~40 bytes/image), staged once so the four
    consuming plan arms never re-decode. The decode stage parallelizes
    per input split with zero state.

    The geometry knob that must track corpus size: expected collision
    candidates are ~ C(n,2) * B / 2^w for B bands of w bits —
    QUADRATIC in n with a 2^-w constant. The 4x16-bit geometry keeps
    candidates a few hundred rows at bench n and saturates near
    n ~ 2^16 images; a larger corpus needs wider bands (a larger grid
    hashed wider). Band width is a recall/cost contract the operator
    of a 100 TB dedup sets explicitly (q28's crowding valve is the
    alternative for hot band values). ``bench.py scale q146`` measures
    its shuffle growth (SCALE_bench_scale.json). Budget pinned
    (tests/test_plan_shapes.py::test_round14_exchange_budgets)."""
    docs = load_table(spark, sf_dir, "documents")
    sigs = MM.dhash_bands(MM.synthesize_gray_bmp(docs))
    return MM.dhash_near_duplicates(sigs).orderBy(
        "doc_a", "doc_b"
    )
