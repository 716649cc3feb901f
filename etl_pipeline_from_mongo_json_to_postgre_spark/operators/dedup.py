"""Deduplication operators over the documents table (training-data
pipeline extensions): exact, MinHash(+LSH), SimHash, n-gram Jaccard.

Scale design (100 TB target):
- exact dedup: one hash-groupBy shuffle keyed on (xxhash64(text),
  length(text)) — 16 bytes/row through the shuffle instead of the
  full document payload;
- minhash/simhash signatures: embarrassingly parallel per-row Column
  expressions (no shuffle at all);
- LSH pair generation: explode band keys -> self-join on (band, key)
  -> candidates only, never the full n^2 cross join;
- jaccard verify: shingle-explode + equi-join on shingle hash within
  blocking keys, counts only (no string payload through the shuffle).

Oracle-checked variants use the portable polynomial hashes
(functions/text.py) so DuckDB reproduces every bit; the fast path for
pure-Spark runs swaps in xxhash64 (dedup_minhash_pairs_fast_raw; its
registry entry dedup_minhash_pairs_fast is a derived-oracle quality
gate — exact true-pair count + recall/precision floors — because the
raw pair list is not SQL-reproducible; the oracle-checked
dedup_minhash_pairs keeps xxhash64 only as an internal band-join key
that never reaches the output).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..functions.text import (
    MOD,
    duck_shingle_hashes,
    duck_word_hashes,
    duck_ws_tokens,
    shingle_hashes,
    word_hashes,
    ws_tokens,
)
from ..sources.parquet import fan_out, load_table

# Fixed minhash permutation parameters (a*h + b) % MOD — deterministic,
# embedded identically in both engines.
MINHASH_AB = [
    (2971, 1433), (4297, 7919), (6361, 2749), (8093, 5471),
    (10169, 3251), (12289, 8731), (14699, 1979), (16127, 6689),
    (18041, 4409), (20201, 9013), (22147, 2333), (24593, 7561),
    (26863, 5087), (28657, 1697), (30803, 8269), (32771, 3863),
]
SIMHASH_BITS = 30
JACCARD_THRESHOLD = 0.5


def _docs(spark, sf_dir):
    # fan_out: single-row-group scans single-thread the shingle/minhash
    # (and regex) pipelines otherwise; no-op on pre-split input
    return fan_out(spark, load_table(spark, sf_dir, "documents"))


# canonical tokenizer pair under the historic local names (r10 review:
# consolidation — see the twin note in corpus.py)
_words = ws_tokens
_DUCK_WORDS = duck_ws_tokens()


# ---------------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------------

def dedup_exact(spark, sf_dir):
    """Exact dedup: canonical (lowest) doc_id per identical text +
    duplicate count. One shuffle with map-side combine, keyed on
    (xxhash64(text), length(text)) so the shuffle moves a 16-byte key
    per row, never the document body — at 100 TB, grouping on the raw
    text column would push the entire corpus through the exchange.

    Collision risk is 2^-64 per pair; a paranoid production variant
    verifies full-text equality within hash groups (collect_set within
    the already-tiny hash group), which this corpus doesn't need — the
    DuckDB oracle groups on raw text, so any collision would surface
    as a driver hash-mismatch.
    """
    d = _docs(spark, sf_dir)
    return (
        d.select(
            F.xxhash64("text").alias("_h"),
            F.length("text").alias("_len"),
            "doc_id",
        )
        .groupBy("_h", "_len")
        .agg(
            F.min("doc_id").alias("doc_id"),
            F.count("*").alias("dup_count"),
        )
        .select("doc_id", "dup_count")
    )


# ---------------------------------------------------------------------------
# minhash
# ---------------------------------------------------------------------------

def _perm_fn(a: int, b: int):
    # NB: closures, not default-arg lambdas — pyspark counts default args
    # as higher-order-function parameters (element, index, ...).
    def f(s):
        return (s * a + b) % F.lit(MOD)

    return f


def _minhash_cols(sh):
    """16 minhash components from a shingle-hash array column.

    Deliberately NOT consolidated into one transform-over-(a,b)-matrix
    expression (the similarity._matrix_dots trick): the consolidated
    form must fetch a and b via element_at per shingle element inside
    the inner lambda, which measured ~1.8x SLOWER warm than these 16
    closure-literal folds (A/B at sf0.1: 1.7s vs 3.0s). Consolidation
    only pays when the lambda body stays literal-only (cf. the xxhash
    pair path below and simhash)."""
    return [
        F.array_min(F.transform(sh, _perm_fn(a, b))).alias(f"mh{j}")
        for j, (a, b) in enumerate(MINHASH_AB)
    ]


_MH = [f"mh{j}" for j in range(16)]


def _minhash_bands(sigs, *carry: str):
    """(doc_id, *carry, band, band_key): the 16 minhash components cut
    into 4 bands x 4 rows, each band keyed by xxhash64 over its 4
    values — a fast fixed-width shuffle key that never reaches an
    output, so DuckDB reproduces the candidate set by joining on the
    raw 4-component tuples (equal tuples <=> equal keys, modulo 2^-64
    collisions)."""
    return sigs.select(
        "doc_id",
        *carry,
        F.posexplode(
            F.array(
                *[
                    F.xxhash64(*[F.col(f"mh{b * 4 + r}") for r in range(4)])
                    for b in range(4)
                ]
            )
        ).alias("band", "band_key"),
    )


def _band_candidates(banded, *carry: str):
    """Band self-join of a banded (doc_id, *carry, band, band_key)
    frame: distinct (doc_a < doc_b) pairs sharing any band key, each
    side's ``carry`` columns renamed a<col> / b<col>. The join never
    builds the n^2 cross product, only same-bucket pairs."""
    a, b = banded.alias("a"), banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            *[F.col(f"a.{c}").alias(f"a{c}") for c in carry],
            *[F.col(f"b.{c}").alias(f"b{c}") for c in carry],
        )
        .dropDuplicates(["doc_a", "doc_b"])
    )


def _est_jaccard():
    """Estimated Jaccard of a candidate pair: the share of its 16
    minhash components (amh<j> vs bmh<j>) that are equal."""
    return sum(
        F.when(F.col(f"amh{j}") == F.col(f"bmh{j}"), 1).otherwise(0) for j in range(16)
    ) / F.lit(16.0)


def dedup_minhash_signature(spark, sf_dir):
    """Per-document 16-component MinHash signature over 3-word shingles.
    Pure projection — zero shuffle; the oracle reproduces every bit via
    the portable polynomial hashes."""
    d = _docs(spark, sf_dir)
    w = _words(F.col("text"))
    # Stage wh and sh as separate projections. NB the protection against
    # CollapseProject inlining wh into the shingle element_at calls is
    # NOT the staging itself but the REFERENCE COUNT: the final
    # projection reads sh 16 times (one per minhash component), which
    # blocks the collapse of the sh projection, and sh's lambda reads wh
    # k+2 times, blocking the wh collapse. Single-reference consumers
    # (the jaccard family) need an explicit localCheckpoint barrier —
    # see _shingle_sets (measured ~100x there).
    staged = (
        d.where(F.size(w) >= 3)
        .select("doc_id", word_hashes(w).alias("wh"))
        .select("doc_id", shingle_hashes(F.col("wh"), k=3).alias("sh"))
    )
    return staged.select("doc_id", *_minhash_cols(F.col("sh")))


def dedup_minhash_pairs(spark, sf_dir):
    """MinHash-LSH candidate pairs, fully oracle-checked.

    4 bands x 4 rows over the portable polynomial minhash components
    (same signature as dedup_minhash_signature): docs sharing any band
    key become candidates; candidates are verified by estimated
    Jaccard = fraction of equal signature components >= 0.5.

    The band join key is xxhash64 over the 4 component values — a fast
    fixed-width shuffle key that never reaches the output, so DuckDB
    reproduces the identical candidate set by joining on the raw
    4-component tuples per band (equal tuples <=> equal xxhash keys,
    modulo 2^-64 collisions).
    """
    # Keys-only bucket join (r14, guide §8 / §2.3 — the discipline the
    # similarity twin already documents): the r13 form carried all 16
    # signature components through BOTH self-join inputs (19-column
    # broadcast/shuffle sides) and then funneled 34 columns through the
    # pair-dedup exchange as 32 partial_first aggregates per row. Now
    # the self-join moves only (doc_id, band, band_key) triples, the
    # dedup exchange carries bare (doc_a, doc_b) pairs with map-side
    # combine, and the signatures re-attach to the DEDUPED pair list by
    # two joins against the checkpointed signature frame (doc-count-
    # sized: AQE broadcasts it here, hash-joins it at scale). Rows
    # identical by construction: same candidate set, same est_jaccard
    # inputs (mh columns are functions of doc_id).
    #
    # localCheckpoint (eager), NOT cache(): three consumers (both band
    # sides + the re-attach) read the materialized partitions, and the
    # backing RDD blocks are reclaimed by the ContextCleaner when this
    # DataFrame is GC'd — cache() entries would pile up in the
    # CacheManager across the driver's many query invocations per
    # session.
    sigs = dedup_minhash_signature(spark, sf_dir).localCheckpoint(eager=True)
    cand = _band_candidates(_minhash_bands(sigs))
    x = sigs.select(F.col("doc_id").alias("doc_a"),
                    *[F.col(f"mh{j}").alias(f"amh{j}") for j in range(16)])
    y = sigs.select(F.col("doc_id").alias("doc_b"),
                    *[F.col(f"mh{j}").alias(f"bmh{j}") for j in range(16)])
    return (
        cand.join(x, "doc_a").join(y, "doc_b")
        .select("doc_a", "doc_b", _est_jaccard().alias("est_jaccard"))
        .where(F.col("est_jaccard") >= JACCARD_THRESHOLD)
    )


def dedup_minhash_canonical(spark, sf_dir):
    """End of the MinHash dedup pipeline: every document is assigned a
    canonical doc_id = the smallest id among itself and its LSH-verified
    near-dup partners (single-hop keep-first semantics, the text twin of
    similarity.dedup_embedding_cosine). Documents with too few shingles
    for a signature keep themselves (nothing to compare).

    Scale shape: the pair list from dedup_minhash_pairs is tiny relative
    to the corpus (near-dups only), so the canonical join is
    partner-list x corpus on doc_id — one shuffle keyed by id, and the
    min() combines map-side."""
    d = _docs(spark, sf_dir).select("doc_id")
    pairs = dedup_minhash_pairs(spark, sf_dir).select("doc_a", "doc_b")
    partner_min = (
        pairs.select(F.col("doc_a").alias("doc_id"), F.col("doc_b").alias("p"))
        .union(pairs.select(F.col("doc_b").alias("doc_id"), F.col("doc_a").alias("p")))
        .groupBy("doc_id")
        .agg(F.min("p").alias("min_partner"))
    )
    return (
        d.join(partner_min, "doc_id", "left")
        .select(
            "doc_id",
            F.least(
                F.col("doc_id"), F.coalesce("min_partner", F.col("doc_id"))
            ).alias("canonical_id"),
        )
        .withColumn("is_duplicate", F.col("canonical_id") != F.col("doc_id"))
    )


def dedup_minhash_pairs_fast_raw(spark, sf_dir):
    """MinHash-LSH candidate pairs (fast path, xxhash64 end-to-end —
    Spark-native, not SQL-reproducible; census/test-pinned raw form;
    the registry entry dedup_minhash_pairs_fast below is the
    derived-oracle quality gate over this pair list; behavior also
    pinned against the portable variant in tests/test_dedup_behavior.py).
    """
    d = _docs(spark, sf_dir)
    w = _words(F.col("text"))
    wcol = F.col("w")
    sh = F.array_distinct(
        F.transform(
            F.sequence(F.lit(0), F.size(wcol) - 3),
            lambda i: F.xxhash64(
                F.concat_ws(
                    " ",
                    F.element_at(wcol, i + 1),
                    F.element_at(wcol, i + 2),
                    F.element_at(wcol, i + 3),
                )
            ),
        )
    )

    # Per-component closure-literal folds, NOT a consolidated
    # transform-over-sequence tree: referencing the outer lambda var j
    # inside the inner per-element lambda measured ~3x slower warm
    # (1.5s vs 4.2s at sf0.1) — same finding as _minhash_cols.
    def _xxh_fn(j):
        def f(s):
            return F.xxhash64(s, F.lit(j))

        return f

    mh = [
        F.array_min(F.transform(F.col("sh"), _xxh_fn(j))).alias(f"mh{j}")
        for j in range(16)
    ]
    # stage words -> shingles -> signature so arrays materialize once
    sigs = (
        d.where(F.size(w) >= 3)
        .select("doc_id", w.alias("w"))
        .select("doc_id", sh.alias("sh"))
        .select("doc_id", *mh)
    )
    # eager localCheckpoint: one materialization shared by both join
    # branches, blocks GC-reclaimed (see dedup_minhash_pairs)
    bands = _minhash_bands(sigs, *_MH).localCheckpoint(eager=True)
    cand = _band_candidates(bands, *_MH)
    return cand.select("doc_a", "doc_b", _est_jaccard().alias("est_jaccard")).where(
        F.col("est_jaccard") >= JACCARD_THRESHOLD
    )


# committed quality floors for the xxhash64 fast path vs the exact truth
# set — deterministic per dataset (xxhash64 is a fixed function):
# measured recall 1.000 / precision 0.24-0.31 at sf0.001/0.01/0.1
FAST_RECALL_FLOOR = 0.9
FAST_PRECISION_FLOOR = 0.15


def dedup_minhash_pairs_fast(spark, sf_dir):
    """Derived-oracle quality gate for the xxhash64 fast MinHash path
    (VERDICT r6 task 4, the kmeans/pca/pagerank conversion): the pair
    LIST depends on xxhash64 (not SQL-portable), so the driver-checked
    frame is the gate computed in-plan over it — the exact true-pair
    count (3-shingle Jaccard >= 0.5 via dedup_ngram_jaccard's
    oracle-checked machinery; DuckDB recomputes the same number) plus
    recall/precision booleans against committed floors. One row:
    (true_pairs, recall_ok, precision_ok); the raw pair list stays
    available as dedup_minhash_pairs_fast_raw (census/test twin), and
    the fully-portable LSH path remains dedup_minhash_pairs.

    Scale shape: the gate joins two near-dup-sized pair lists (tiny vs
    corpus) and aggregates to one row; the expensive sides are the
    candidate generators themselves, both banded/blocked."""
    found = dedup_minhash_pairs_fast_raw(spark, sf_dir).select(
        "doc_a", "doc_b", F.lit(1).alias("found"))
    true = dedup_ngram_jaccard(spark, sf_dir).select(
        "doc_a", "doc_b", F.lit(1).alias("is_true"))
    both = true.join(found, ["doc_a", "doc_b"], "full")
    return both.agg(
        F.sum("is_true").cast("bigint").alias("true_pairs"),
        (
            F.sum(F.col("is_true") * F.coalesce("found", F.lit(0))).cast("double")
            / F.sum("is_true") >= F.lit(FAST_RECALL_FLOOR)
        ).alias("recall_ok"),
        (
            F.sum(F.coalesce("is_true", F.lit(0)) * F.col("found")).cast("double")
            / F.sum("found") >= F.lit(FAST_PRECISION_FLOOR)
        ).alias("precision_ok"),
    )


# ---------------------------------------------------------------------------
# simhash
# ---------------------------------------------------------------------------

def dedup_simhash(spark, sf_dir):
    """Per-document 30-bit SimHash over word hashes (multiset). Majority
    vote per bit; zero shuffle; portable-hash oracle."""
    d = _docs(spark, sf_dir)
    w = _words(F.col("text"))
    staged = d.where(F.size(w) > 0).select(
        "doc_id", word_hashes(w).alias("wh")
    )
    wh = F.col("wh")
    # One consolidated HOF tree for all 30 per-bit majority sums:
    # measured neutral warm vs 30 separate folds but ~2x faster cold
    # (expression-tree setup amortized). Bit j is extracted as
    # (x div 2^j) & 1 — exact for these non-negative (< MOD < 2^30)
    # hashes, and usable inside the lambda where shiftright's int-only
    # argument isn't.
    pow2 = F.array(*[F.lit(float(1 << j)) for j in range(SIMHASH_BITS)])
    bit_sums = F.transform(
        pow2,
        lambda p: F.aggregate(
            wh,
            F.lit(0).cast("bigint"),
            lambda acc, x: acc
            + F.floor(x / p).cast("bigint").bitwiseAND(F.lit(1)),
        ),
    )
    staged2 = staged.select(
        "doc_id", F.size(wh).alias("n"), bit_sums.alias("bs")
    )
    simhash = sum(
        F.when(F.element_at("bs", j + 1) * 2 > F.col("n"), F.lit(1 << j)).otherwise(
            F.lit(0)
        )
        for j in range(SIMHASH_BITS)
    ).cast("bigint")
    return staged2.select("doc_id", simhash.alias("simhash"))


SIMHASH_BANDS = 3            # 3 bands x 20 bits over the 60-bit simhash
SIMHASH_BAND_BITS = 20
SIMHASH_HAMMING_MAX = 2      # pigeonhole: <= 2 flipped bits leave >= 1 band intact
# Affine rescramble (mod the same prime) deriving the second independent
# 30-bit half of the 60-bit pair signature from the word hashes.
SIMHASH2_A = 1_000_003
SIMHASH2_B = 777_767


def simhash60_signatures(spark, sf_dir):
    """60-bit SimHash signatures for the PAIRS detector: two 30-bit
    majority-vote halves over independently-scrambled word hashes,
    packed lo | hi << 30.

    Why 60 and not the display-friendly 30 of dedup_simhash: a 30-bit
    signature SATURATES on vocabulary-limited corpora — measured on a
    50k-doc Zipfian fixture (tools/doc_scale_probe.py), 50k docs
    collapsed onto 1,968 distinct 30-bit values, so the exact
    Hamming<=2 answer itself is quadratic (2.7e9 band-join candidate
    rows, 420 s). Production simhash dedup uses 64-bit signatures for
    exactly this reason (Manku, Jain, Das Sarma, "Detecting
    Near-Duplicates for Web Crawling", WWW 2007); 60 bits is the
    largest multiple of the 30-bit portable-hash halves that keeps
    every intermediate in BIGINT on both engines."""
    d = _docs(spark, sf_dir)
    w = _words(F.col("text"))
    staged = d.where(F.size(w) > 0).select(
        "doc_id", word_hashes(w).alias("wh")
    ).localCheckpoint(eager=True)  # barrier: wh feeds both halves' folds
    wh = F.col("wh")
    wh2 = F.transform(
        wh, lambda x: (x * F.lit(SIMHASH2_A) + F.lit(SIMHASH2_B)) % F.lit(MOD)
    )
    pow2 = F.array(*[F.lit(float(1 << j)) for j in range(SIMHASH_BITS)])

    def bit_sums(col):
        return F.transform(
            pow2,
            lambda p: F.aggregate(
                col,
                F.lit(0).cast("bigint"),
                lambda acc, x: acc
                + F.floor(x / p).cast("bigint").bitwiseAND(F.lit(1)),
            ),
        )

    staged2 = staged.select(
        "doc_id", F.size(wh).alias("n"),
        bit_sums(wh).alias("bs_lo"), bit_sums(wh2).alias("bs_hi"),
    )
    sim60 = (
        sum(
            F.when(F.element_at("bs_lo", j + 1) * 2 > F.col("n"),
                   F.lit(1 << j)).otherwise(F.lit(0))
            for j in range(SIMHASH_BITS)
        )
        + sum(
            F.when(F.element_at("bs_hi", j + 1) * 2 > F.col("n"),
                   F.lit(1 << (SIMHASH_BITS + j))).otherwise(F.lit(0))
            for j in range(SIMHASH_BITS)
        )
    ).cast("bigint")
    return staged2.select("doc_id", sim60.alias("simhash"))


def dedup_simhash_pairs(spark, sf_dir):
    """SimHash near-dup pairs: candidates from 20-bit band blocking over
    60-bit signatures (simhash60_signatures — see there for why the
    pairs path needs more bits than the 30-bit display signature),
    verified by exact Hamming distance <= 2.

    Completeness is EXACT by pigeonhole: a pair within Hamming 2 differs
    in at most 2 of the 3 bands, so at least one band key matches and
    the pair is generated. Complements the MinHash path: simhash
    catches small absolute edits on long documents (a few flipped
    bits), where shingle-Jaccard needs a much lower threshold.

    Scale shape: signatures are zero-shuffle projections; the band
    self-join shuffles (band, 20-bit key, doc_id, simhash) — fixed
    ~24 bytes/row x 3 bands, never text; Hamming verification is two
    JVM bit ops (xor + bit_count) on the candidate rows. Band-bucket
    fan-out is entropy-bound: measured on the 50k Zipfian fixture the
    60-bit upgrade cut the candidate join from 2.7e9 rows / 420 s to
    the near-dup neighborhood (~seconds, exponent back under ~1)."""
    sims = simhash60_signatures(spark, sf_dir).localCheckpoint(eager=True)
    banded = sims.select(
        "doc_id", "simhash",
        F.posexplode(
            F.array(*[
                F.shiftright("simhash", b * SIMHASH_BAND_BITS)
                .bitwiseAND(F.lit((1 << SIMHASH_BAND_BITS) - 1))
                for b in range(SIMHASH_BANDS)
            ])
        ).alias("band", "band_key"),
    )
    cand = _band_candidates(banded, "simhash")
    hamming = F.bit_count(
        F.col("asimhash").bitwiseXOR(F.col("bsimhash"))
    ).cast("int")
    return (
        cand.select("doc_a", "doc_b", hamming.alias("hamming"))
        .where(F.col("hamming") <= SIMHASH_HAMMING_MAX)
    )


# ---------------------------------------------------------------------------
# n-gram jaccard
# ---------------------------------------------------------------------------

def _shingle_sets(spark, sf_dir, ordered: bool = False):
    """(doc_id, lang, sh): each document's distinct 3-word-shingle hash
    set (empty sets dropped), checkpointed for its several readers;
    ``ordered`` sorts each set ascending inside the checkpoint, once
    per document, rather than in every reader.

    TWO barriers. (1) after wh: CollapseProject otherwise inlines the
    whole word-hash pipeline into every element_at inside the shingle
    lambda — ~150 re-evaluations of wh per doc (3 offsets x ~50
    shingles), measured 50s -> 0.5s at sf0.1 for this single
    materialization. (2) after sh: every caller reads the frame more
    than once; left lazy, each branch re-evaluates the pipeline and
    Generate inlines it per exploded row (~25x measured at sf0.001).
    localCheckpoint over cache() so blocks are GC-reclaimed instead of
    leaking in the CacheManager."""
    d = _docs(spark, sf_dir)
    w = _words(F.col("text"))
    staged = d.select(
        "doc_id", "lang", word_hashes(w).alias("wh")
    ).localCheckpoint(eager=True)
    sh = F.array_distinct(shingle_hashes(F.col("wh"), k=3))
    if ordered:
        sh = F.array_sort(sh)
    return (
        staged.select("doc_id", "lang", sh.alias("sh"))
        .where(F.size("sh") > 0)
        .localCheckpoint(eager=True)
    )


def _shingle_overlap(docs):
    """(doc_a, doc_b, common, na, nb) for every lang-blocked pair
    (doc_a < doc_b) sharing a shingle: an inverted-index equi-join on
    (lang, shingle hash) carrying counts only (no string payload
    through the shuffle), then the two set sizes. ``docs``: a
    _shingle_sets frame."""
    sizes = docs.select("doc_id", F.size("sh").alias("n_sh"))
    exploded = docs.select("doc_id", "lang", F.explode("sh").alias("s"))
    a, b = exploded.alias("a"), exploded.alias("b")
    common = (
        a.join(
            b,
            (F.col("a.lang") == F.col("b.lang"))
            & (F.col("a.s") == F.col("b.s"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count("*").alias("common"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("nb"))
    return common.join(sa, "doc_a").join(sb, "doc_b")


def _jaccard():
    """Exact set Jaccard from the (common, na, nb) counts, rounded to
    6 dp (integer set arithmetic -> exact parity)."""
    return F.round(
        F.col("common").cast("double")
        / (F.col("na") + F.col("nb") - F.col("common")),
        6,
    )


def dedup_ngram_jaccard(spark, sf_dir):
    """Pairwise Jaccard over distinct 3-word-shingle sets, blocked by
    lang (a real pipeline blocks by cheap keys to avoid n^2). Integer
    set arithmetic -> exact parity; pairs with J >= 0.5 survive.
    Steps: _shingle_sets -> _shingle_overlap -> _jaccard."""
    jac = _shingle_overlap(_shingle_sets(spark, sf_dir)).select(
        "doc_a", "doc_b", _jaccard().alias("jaccard"))
    return jac.where(F.col("jaccard") >= JACCARD_THRESHOLD)


def dedup_jaccard_prefix(spark, sf_dir):
    """Prefix-filtered Jaccard join (Chaudhuri/Ganti/Kaushik's
    SSJoin-style candidate pruning): identical output to
    dedup_ngram_jaccard, but candidates come from joining only each
    document's PREFIX — its first n - ceil(T*n) + 1 shingles under a
    global total order — instead of its full shingle set. Any pair with
    J >= T must share a prefix shingle (pigeonhole over the sorted
    order), so pruning is EXACT: same result, and the candidate-join
    shuffle shrinks by ~T of the exploded rows, concentrated on the
    rarest tokens when the order is df-ascending (hash order here —
    correctness needs only consistency; swap in a df-rank order at
    100 TB for maximum pruning). Verification intersects the full
    arrays carried on the candidate pairs — per-pair compute, no
    second inverted-index shuffle (unlike the full-join variant).

    Oracle: shares dedup_ngram_jaccard's SQL verbatim — the two
    operators are result-identical by construction, which IS the
    property worth pinning. Shares _shingle_sets (ordered; read 2x:
    prefix explode + verify join) and _jaccard with it."""
    docs = _shingle_sets(spark, sf_dir, ordered=True)
    n = F.size("sh")
    prefix_len = (n - F.ceil(n * F.lit(JACCARD_THRESHOLD)) + 1).cast("int")
    prefixes = docs.select(
        "doc_id", "lang",
        F.explode(F.slice("sh", 1, prefix_len)).alias("s"),
    )
    a, b = prefixes.alias("a"), prefixes.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.lang") == F.col("b.lang"))
            & (F.col("a.s") == F.col("b.s"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .distinct()
    )
    da = docs.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sha"))
    db = docs.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("shb"))
    verified = (
        cand.join(da, "doc_a")
        .join(db, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.size(F.array_intersect("sha", "shb")).alias("common"),
            F.size("sha").alias("na"),
            F.size("shb").alias("nb"),
        )
        .select("doc_a", "doc_b", _jaccard().alias("jaccard"))
    )
    return verified.where(F.col("jaccard") >= JACCARD_THRESHOLD)


# ---------------------------------------------------------------------------
# DuckDB oracles
# ---------------------------------------------------------------------------

CONTAINMENT_THRESHOLD = 0.6
INC_BATCH_MOD = 10  # scrambled doc_id % 10 == 0 -> the "new batch" slice


def inc_dedup_merge(spark, sf_dir):
    """Incremental dedup: match a NEW document batch against the
    existing corpus index without re-deduplicating the index — the
    production shape for a continuously-ingesting 100 TB pipeline,
    where full-corpus re-dedup per batch is unaffordable.

    The batch is the deterministic scrambled-id 10% slice; everything
    else is the index. LSH band keys join BATCH x INDEX only (never
    index x index — the join's left side is batch-sized, so per-batch
    cost scales with the batch, not the corpus; at 100 TB the index's
    banded signatures are a pre-built bucketed table and this is a
    bucket-pruned probe). Candidates verify by estimated Jaccard >= 0.5
    over the 16 portable minhash components, then each batch doc gets
    its verdict: is_dup + canonical index id (min match), or itself.
    Batch docs too short for a signature are trivially unique."""
    from ..functions.sampling import scrambled_key

    sigs = dedup_minhash_signature(spark, sf_dir)
    bands = _minhash_bands(sigs, *_MH).localCheckpoint(
        eager=True)  # batch + index slices read it once
    is_batch = scrambled_key(F.col("doc_id"), INC_BATCH_MOD) == 0
    batch_b = bands.where(is_batch).alias("a")
    index_b = bands.where(~is_batch).alias("b")
    cand = (
        batch_b.join(
            index_b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_key") == F.col("b.band_key")),
        )
        .select(
            F.col("a.doc_id").alias("doc_id"),
            F.col("b.doc_id").alias("idx_id"),
            *[F.col(f"a.mh{j}").alias(f"amh{j}") for j in range(16)],
            *[F.col(f"b.mh{j}").alias(f"bmh{j}") for j in range(16)],
        )
        .dropDuplicates(["doc_id", "idx_id"])
    )
    matches = (
        cand.where(_est_jaccard() >= JACCARD_THRESHOLD)
        .groupBy("doc_id")
        .agg(F.min("idx_id").alias("min_idx"))
    )
    batch_ids = _docs(spark, sf_dir).select("doc_id").where(is_batch)
    return (
        batch_ids.join(matches, "doc_id", "left")
        .select(
            "doc_id",
            F.col("min_idx").isNotNull().alias("is_dup"),
            F.coalesce("min_idx", F.col("doc_id")).alias("canonical_id"),
        )
    )


def dedup_containment_pairs(spark, sf_dir):
    """Asymmetric containment pairs: |S_a ∩ S_b| / |S_a| (and /|S_b|)
    over distinct 3-word-shingle sets, lang-blocked — the near-dup
    signal Jaccard misses when a short document is wholly embedded in a
    long one (quote extraction, boilerplate wrapping, chunk reuse).
    Pairs where EITHER direction >= 0.6 survive.

    Scale shape: dedup_ngram_jaccard's steps (_shingle_sets ->
    _shingle_overlap); the direction ratios are per-pair arithmetic after the count join,
    so asymmetry costs nothing extra."""
    cont_a = F.round(F.col("common").cast("double") / F.col("na"), 6)
    cont_b = F.round(F.col("common").cast("double") / F.col("nb"), 6)
    return (
        _shingle_overlap(_shingle_sets(spark, sf_dir))
        .select(
            "doc_a", "doc_b", "common",
            cont_a.alias("containment_a"), cont_b.alias("containment_b"),
        )
        .where(
            F.greatest(F.col("containment_a"), F.col("containment_b"))
            >= CONTAINMENT_THRESHOLD
        )
    )


def _duck_sig_cte() -> str:
    """CTE producing doc_id + shingle-hash list 'sh' per document."""
    return f"""
        WITH words AS (
            SELECT doc_id, lang, {_DUCK_WORDS} AS w FROM documents
        ), hashes AS (
            SELECT doc_id, lang, {duck_word_hashes('w')} AS wh FROM words
        ), shingled AS (
            SELECT doc_id, lang, {duck_shingle_hashes(3)} AS sh FROM hashes
        )
    """


_MH_SELECT = ", ".join(
    f"list_min(list_transform(sh, s -> (s*{a} + {b}) % {MOD})) AS mh{j}"
    for j, (a, b) in enumerate(MINHASH_AB)
)

_EST_JACCARD_TERMS = " + ".join(
    f"(CASE WHEN amh{j} = bmh{j} THEN 1 ELSE 0 END)" for j in range(16)
)

_SIMHASH_TERMS = " + ".join(
    f"(CASE WHEN 2*list_sum(list_transform(wh, x -> (x >> {j}) & 1)) > len(wh) "
    f"THEN {1 << j} ELSE 0 END)"
    for j in range(SIMHASH_BITS)
)

FUZZY_MAX_DIST = 3


def fuzzy_name_pairs(spark, sf_dir):
    """Blocked fuzzy record linkage over the part-name vocabulary:
    candidate pairs share a blocking key (the name's noun), and only
    candidates pay the levenshtein verify — the classic record-linkage
    shape, never an all-pairs cross join.

    Scale shape: names are DISTINCT'd first (entity vocabularies are
    orders of magnitude smaller than fact tables — 64 names for 2000
    parts here, same ratio at 100 TB where the dedup runs on the
    vocabulary then maps back by equi-join); the self-join is an
    equi-join on the block key; the quadratic cost is confined within
    a block, which is why production blocking keys must be selective
    (document-level analog: dedup_minhash_pairs' band buckets).
    """
    p = load_table(spark, sf_dir, "part")
    names = (
        p.select(
            F.col("p_name").alias("name"),
            F.element_at(F.split("p_name", " "), 2).alias("block"),
        )
        .distinct()
    )
    a = names.select(F.col("name").alias("name_a"), "block")
    b = names.select(F.col("name").alias("name_b"), F.col("block").alias("block_b"))
    return (
        a.join(b, (F.col("block") == F.col("block_b"))
               & (F.col("name_a") < F.col("name_b")))
        .withColumn("dist", F.levenshtein("name_a", "name_b"))
        .where(F.col("dist") <= FUZZY_MAX_DIST)
        .select("name_a", "name_b", "dist")
    )


SPAN_GRAM = 5  # word-5-gram granularity for duplicated-span detection


def dedup_substring_spans(spark, sf_dir):
    """Cross-document duplicated-substring spans — the ExactSubstr
    dedup of Lee et al. (ACL'22, "Deduplicating Training Data Makes
    Language Models Better") re-expressed relationally: every maximal
    run of word-5-gram start positions whose gram occurs in >=2
    distinct documents, merged per document into 1-based (start, end)
    word spans — exactly the byte ranges a substring-dedup pass cuts.

    Scale shape (vs the paper's monolithic suffix array, which does
    NOT distribute): positional gram hashes explode map-side from one
    checkpointed word-hash stage; ONE counts-only aggregate finds
    cross-document grams (the shuffle carries 8-byte gram hashes and
    doc ids, never text); the island merge (pos - row_number) is a
    window partitioned by doc_id, so per-partition state is bounded by
    a single document's length regardless of corpus size. Portable
    polynomial hashes -> bit-exact DuckDB oracle.
    """
    from pyspark.sql.window import Window

    d = _docs(spark, sf_dir)
    staged = d.select(
        "doc_id", word_hashes(_words(F.col("text"))).alias("wh")
    ).localCheckpoint(eager=True)  # CollapseProject barrier (see above)
    pos_grams = staged.select(
        "doc_id",
        F.posexplode(shingle_hashes(F.col("wh"), k=SPAN_GRAM)).alias("i", "g"),
    ).select("doc_id", (F.col("i") + 1).cast("bigint").alias("pos"), "g")
    # cross-doc test as min != max over owners: a plain partial-agg
    # min/max pair (single-pass, map-side combined) instead of a
    # count_distinct, which would expand to a two-phase distinct
    # aggregation over (g, doc_id)
    cross_doc = (
        pos_grams.groupBy("g")
        .agg(F.min("doc_id").alias("lo"), F.max("doc_id").alias("hi"))
        .where(F.col("lo") != F.col("hi"))
        .select("g")
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    islands = (
        pos_grams.join(cross_doc, "g")
        .select("doc_id", "pos")
        .withColumn("grp", F.col("pos") - F.row_number().over(w))
    )
    return (
        islands.groupBy("doc_id", "grp")
        .agg(F.min("pos").alias("span_start"), F.max("pos").alias("mx"))
        .select(
            "doc_id",
            "span_start",
            (F.col("mx") + SPAN_GRAM - 1).alias("span_end"),
            (F.col("mx") + SPAN_GRAM - F.col("span_start")).alias("dup_words"),
        )
    )


ORACLE_SQL = {
    "fuzzy_name_pairs": f"""
        WITH names AS (
            SELECT DISTINCT p_name AS name,
                   string_split(p_name, ' ')[2] AS block
            FROM part
        )
        SELECT a.name AS name_a, b.name AS name_b,
               levenshtein(a.name, b.name) AS dist
        FROM names a JOIN names b
          ON a.block = b.block AND a.name < b.name
        WHERE levenshtein(a.name, b.name) <= {FUZZY_MAX_DIST}
    """,
    "dedup_exact": """
        SELECT min(doc_id) AS doc_id, count(*) AS dup_count
        FROM documents GROUP BY text
    """,
    "dedup_minhash_signature": _duck_sig_cte()
    + f"""
        SELECT doc_id, {_MH_SELECT}
        FROM shingled WHERE len(sh) > 0
    """,
    "dedup_minhash_pairs": _duck_sig_cte()
    + f"""
        , sigs AS (
            SELECT doc_id, {_MH_SELECT}
            FROM shingled WHERE len(sh) > 0
        ), bands AS (
            SELECT s.*, b.band,
                   CASE b.band
                       WHEN 0 THEN [mh0, mh1, mh2, mh3]
                       WHEN 1 THEN [mh4, mh5, mh6, mh7]
                       WHEN 2 THEN [mh8, mh9, mh10, mh11]
                       ELSE [mh12, mh13, mh14, mh15]
                   END AS bkey
            FROM sigs s CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS band) b
        ), cand AS (
            SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
                   {", ".join(f"a.mh{j} AS amh{j}" for j in range(16))},
                   {", ".join(f"b.mh{j} AS bmh{j}" for j in range(16))}
            FROM bands a JOIN bands b
              ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id
        )
        SELECT doc_a, doc_b,
               ({_EST_JACCARD_TERMS}) / 16.0 AS est_jaccard
        FROM cand
        WHERE ({_EST_JACCARD_TERMS}) / 16.0 >= {JACCARD_THRESHOLD}
    """,
    "dedup_minhash_canonical": _duck_sig_cte()
    + f"""
        , sigs AS (
            SELECT doc_id, {_MH_SELECT}
            FROM shingled WHERE len(sh) > 0
        ), bands AS (
            SELECT s.*, b.band,
                   CASE b.band
                       WHEN 0 THEN [mh0, mh1, mh2, mh3]
                       WHEN 1 THEN [mh4, mh5, mh6, mh7]
                       WHEN 2 THEN [mh8, mh9, mh10, mh11]
                       ELSE [mh12, mh13, mh14, mh15]
                   END AS bkey
            FROM sigs s CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS band) b
        ), cand AS (
            SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
                   {", ".join(f"a.mh{j} AS amh{j}" for j in range(16))},
                   {", ".join(f"b.mh{j} AS bmh{j}" for j in range(16))}
            FROM bands a JOIN bands b
              ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id
        ), good AS (
            SELECT doc_a, doc_b FROM cand
            WHERE ({_EST_JACCARD_TERMS}) / 16.0 >= {JACCARD_THRESHOLD}
        ), partners AS (
            SELECT doc_a AS doc_id, doc_b AS p FROM good
            UNION ALL
            SELECT doc_b AS doc_id, doc_a AS p FROM good
        ), pm AS (
            SELECT doc_id, min(p) AS mp FROM partners GROUP BY doc_id
        )
        SELECT d.doc_id,
               least(d.doc_id, coalesce(pm.mp, d.doc_id)) AS canonical_id,
               least(d.doc_id, coalesce(pm.mp, d.doc_id)) <> d.doc_id
                   AS is_duplicate
        FROM documents d LEFT JOIN pm ON pm.doc_id = d.doc_id
    """,
    "dedup_simhash": f"""
        WITH words AS (
            SELECT doc_id, {_DUCK_WORDS} AS w FROM documents
        ), hashes AS (
            SELECT doc_id, {duck_word_hashes('w')} AS wh FROM words
        )
        SELECT doc_id, CAST({_SIMHASH_TERMS} AS BIGINT) AS simhash
        FROM hashes WHERE len(wh) > 0
    """,
    "dedup_ngram_jaccard": _duck_sig_cte()
    + f"""
        , sets AS (
            SELECT doc_id, lang, list_distinct(sh) AS sh FROM shingled
            WHERE len(list_distinct(sh)) > 0
        ), exploded AS (
            SELECT doc_id, lang, unnest(sh) AS s FROM sets
        ), common AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS common
            FROM exploded a JOIN exploded b
              ON a.lang = b.lang AND a.s = b.s AND a.doc_id < b.doc_id
            GROUP BY 1, 2
        )
        SELECT doc_a, doc_b,
               round(CAST(common AS DOUBLE)
                     / (sa.n + sb.n - common), 6) AS jaccard
        FROM common
        JOIN (SELECT doc_id, len(sh) AS n FROM sets) sa ON sa.doc_id = doc_a
        JOIN (SELECT doc_id, len(sh) AS n FROM sets) sb ON sb.doc_id = doc_b
        WHERE round(CAST(common AS DOUBLE) / (sa.n + sb.n - common), 6)
              >= {JACCARD_THRESHOLD}
    """,
}
# ^ round BEFORE the threshold, matching the Spark side's filter on the
#   rounded column (r10 review: the raw-ratio WHERE dropped pairs with
#   J in [threshold - 5e-7, threshold) that Spark keeps as exactly
#   threshold after rounding — latent until ~1e6-shingle unions, i.e.
#   exactly the scale this operator is designed for; the containment
#   oracle already rounded inside its WHERE)

ORACLE_SQL["dedup_jaccard_prefix"] = ORACLE_SQL["dedup_ngram_jaccard"]

# derived-oracle gate for the xxhash64 fast path: DuckDB recomputes the
# exact true-pair count through the same ngram-jaccard machinery and
# asserts the committed recall/precision floors hold
ORACLE_SQL["dedup_minhash_pairs_fast"] = f"""
    SELECT CAST(count(*) AS BIGINT) AS true_pairs,
           TRUE AS recall_ok, TRUE AS precision_ok
    FROM ({ORACLE_SQL["dedup_ngram_jaccard"]})
"""

# 60-bit signature twin: lo half = the 30-bit terms over wh, hi half =
# the same majority vote over the affine-rescrambled wh2, weighted into
# bits 30..59. All sums stay < 2^60 (BIGINT-safe on both engines).
_SIMHASH60_TERMS_HI = " + ".join(
    f"(CASE WHEN 2*list_sum(list_transform(wh2, x -> (x >> {j}) & 1)) > len(wh2) "
    f"THEN {1 << (SIMHASH_BITS + j)} ELSE 0 END)"
    for j in range(SIMHASH_BITS)
)

_SIMHASH60_CTE = f"""
        WITH words AS (
            SELECT doc_id, {_DUCK_WORDS} AS w FROM documents
        ), hashes AS (
            SELECT doc_id, {duck_word_hashes('w')} AS wh FROM words
        ), hashes2 AS (
            SELECT doc_id, wh,
                   list_transform(wh, x -> (x*{SIMHASH2_A} + {SIMHASH2_B}) % {MOD}) AS wh2
            FROM hashes WHERE len(wh) > 0
        )
        SELECT doc_id,
               CAST(({_SIMHASH_TERMS}) + ({_SIMHASH60_TERMS_HI}) AS BIGINT)
                   AS simhash
        FROM hashes2
"""

ORACLE_SQL["dedup_simhash_pairs"] = f"""
    WITH sims AS ({_SIMHASH60_CTE}),
    banded AS (
        SELECT doc_id, simhash, b.band,
               (simhash >> (b.band * {SIMHASH_BAND_BITS}))
                   & {(1 << SIMHASH_BAND_BITS) - 1} AS band_key
        FROM sims CROSS JOIN (SELECT unnest(range(0, {SIMHASH_BANDS})) AS band) b
    ), cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
               a.simhash AS sim_a, b.simhash AS sim_b
        FROM banded a JOIN banded b
          ON a.band = b.band AND a.band_key = b.band_key
         AND a.doc_id < b.doc_id
    )
    SELECT doc_a, doc_b,
           CAST(bit_count(xor(sim_a, sim_b)) AS INT) AS hamming
    FROM cand
    WHERE bit_count(xor(sim_a, sim_b)) <= {SIMHASH_HAMMING_MAX}
"""

def dedup_lsh_eval(spark, sf_dir):
    """LSH quality evaluation: precision/recall of the MinHash-LSH
    near-dup detector (dedup_minhash_pairs, est-Jaccard >= 0.5) against
    the exact shingle-Jaccard truth (dedup_ngram_jaccard, J >= 0.5) —
    the measure-don't-guess check before trusting a banding config on a
    100 TB corpus. The exact side is computable at eval scale (a
    sampled slice in production); the detector is the scale path.

    Scale shape: both inputs are pair-lists (near-dups only, tiny
    relative to the corpus); the confusion counts are two semi/anti
    joins on pair keys."""
    # eager barriers: each pair list feeds three confusion branches;
    # pinning keeps the signature/inverted-index pipelines at one
    # execution each. The remaining cost IS the exact-Jaccard truth
    # side (~few-s at the sf0.01 gate; ~1 min at sf0.1 on this
    # pathologically dense 30-word synthetic vocabulary) — that is the
    # point of the metric: exact truth at eval scale, LSH at corpus
    # scale.
    truth = (
        dedup_ngram_jaccard(spark, sf_dir)
        .select("doc_a", "doc_b")
        .localCheckpoint(eager=True)
    )
    pred = (
        dedup_minhash_pairs(spark, sf_dir)
        .select("doc_a", "doc_b")
        .localCheckpoint(eager=True)
    )
    tp = pred.join(truth, ["doc_a", "doc_b"], "left_semi")
    fp = pred.join(truth, ["doc_a", "doc_b"], "left_anti")
    fn = truth.join(pred, ["doc_a", "doc_b"], "left_anti")
    counts = (
        tp.agg(F.count("*").alias("tp"))
        .crossJoin(F.broadcast(fp.agg(F.count("*").alias("fp"))))
        .crossJoin(F.broadcast(fn.agg(F.count("*").alias("fn"))))
    )
    return counts.select(
        "tp", "fp", "fn",
        F.round(
            F.col("tp").cast("double") / (F.col("tp") + F.col("fp")), 6
        ).alias("precision"),
        F.round(
            F.col("tp").cast("double") / (F.col("tp") + F.col("fn")), 6
        ).alias("recall"),
    )


# curation pipeline constants: minimum words to survive the quality gate
CURATION_MIN_WORDS = 15


def corpus_curation_pipeline(spark, sf_dir):
    """End-to-end curation chain as ONE dataflow: quality gate (>= 15
    words) -> exact dedup keep-first -> train/val/test split census per
    language. The composition query: proves the gate, the dedup, and
    the deterministic splitter run in a single DAG (one corpus scan
    feeding everything) rather than as three jobs with intermediate
    materializations.

    Scale shape: the dedup shuffle carries (xxhash64, length) keys; the
    survivor id set joins back to a metadata-only projection (doc_id,
    lang) — document text never crosses an exchange after the hash."""
    from ..functions.sampling import scrambled_key

    d = _docs(spark, sf_dir)
    w = _words(F.col("text"))
    gated = d.where(F.size(w) >= CURATION_MIN_WORDS).select(
        "doc_id", "lang",
        F.xxhash64("text").alias("_h"),
        F.length("text").alias("_len"),
    ).localCheckpoint(eager=True)  # survivors join back to the same frame
    survivors = (
        gated.groupBy("_h", "_len")
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
    )
    bucket = scrambled_key(F.col("doc_id"), 100)
    split = (
        F.when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test")
    )
    return (
        gated.join(survivors, "doc_id", "left_semi")
        .select(split.alias("split"), "lang")
        .groupBy("split", "lang")
        .agg(F.count("*").alias("docs"))
    )


def _inc_dedup_merge_sql() -> str:
    from ..functions.sampling import scrambled_key_sql

    in_batch = f"{scrambled_key_sql('doc_id', INC_BATCH_MOD)} = 0"
    return _duck_sig_cte() + f"""
        , sigs AS (
            SELECT doc_id, {_MH_SELECT}
            FROM shingled WHERE len(sh) > 0
        ), bands AS (
            SELECT s.*, b.band,
                   CASE b.band
                       WHEN 0 THEN [mh0, mh1, mh2, mh3]
                       WHEN 1 THEN [mh4, mh5, mh6, mh7]
                       WHEN 2 THEN [mh8, mh9, mh10, mh11]
                       ELSE [mh12, mh13, mh14, mh15]
                   END AS bkey
            FROM sigs s CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS band) b
        ), cand AS (
            SELECT DISTINCT a.doc_id AS did, b.doc_id AS idx_id,
                   {", ".join(f"a.mh{j} AS amh{j}" for j in range(16))},
                   {", ".join(f"b.mh{j} AS bmh{j}" for j in range(16))}
            FROM bands a JOIN bands b
              ON a.band = b.band AND a.bkey = b.bkey
            WHERE ({in_batch.replace('doc_id', 'a.doc_id')})
              AND NOT ({in_batch.replace('doc_id', 'b.doc_id')})
        ), matches AS (
            SELECT did, min(idx_id) AS min_idx FROM cand
            WHERE ({_EST_JACCARD_TERMS}) / 16.0 >= {JACCARD_THRESHOLD}
            GROUP BY did
        )
        SELECT d.doc_id, m.min_idx IS NOT NULL AS is_dup,
               COALESCE(m.min_idx, d.doc_id) AS canonical_id
        FROM documents d LEFT JOIN matches m ON m.did = d.doc_id
        WHERE {in_batch.replace('doc_id', 'd.doc_id')}
    """


ORACLE_SQL["inc_dedup_merge"] = _inc_dedup_merge_sql()

ORACLE_SQL["dedup_lsh_eval"] = f"""
    WITH truth AS ({ORACLE_SQL["dedup_ngram_jaccard"]}),
    pred AS ({ORACLE_SQL["dedup_minhash_pairs"]}),
    tp AS (SELECT count(*) AS tp FROM pred p
           WHERE EXISTS (SELECT 1 FROM truth t
                         WHERE t.doc_a = p.doc_a AND t.doc_b = p.doc_b)),
    fp AS (SELECT count(*) AS fp FROM pred p
           WHERE NOT EXISTS (SELECT 1 FROM truth t
                             WHERE t.doc_a = p.doc_a AND t.doc_b = p.doc_b)),
    fn AS (SELECT count(*) AS fn FROM truth t
           WHERE NOT EXISTS (SELECT 1 FROM pred p
                             WHERE p.doc_a = t.doc_a AND p.doc_b = t.doc_b))
    SELECT tp, fp, fn,
           round(CAST(tp AS DOUBLE) / (tp + fp), 6) AS precision,
           round(CAST(tp AS DOUBLE) / (tp + fn), 6) AS recall
    FROM tp, fp, fn
"""

ORACLE_SQL["corpus_curation_pipeline"] = f"""
    WITH gated AS (
        SELECT doc_id, lang, text FROM documents
        WHERE len({_DUCK_WORDS}) >= {CURATION_MIN_WORDS}
    ), survivors AS (
        SELECT min(doc_id) AS doc_id FROM gated GROUP BY text
    )
    SELECT CASE WHEN ((doc_id) * 2654435761) % 100 < 80 THEN 'train'
                WHEN ((doc_id) * 2654435761) % 100 < 90 THEN 'val'
                ELSE 'test' END AS split,
           lang, count(*) AS docs
    FROM gated
    WHERE doc_id IN (SELECT doc_id FROM survivors)
    GROUP BY 1, 2
"""

ORACLE_SQL["dedup_containment_pairs"] = _duck_sig_cte() + f"""
    , sets AS (
        SELECT doc_id, lang, list_distinct(sh) AS sh FROM shingled
        WHERE len(list_distinct(sh)) > 0
    ), exploded AS (
        SELECT doc_id, lang, unnest(sh) AS s FROM sets
    ), common AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS common
        FROM exploded a JOIN exploded b
          ON a.lang = b.lang AND a.s = b.s AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    )
    SELECT doc_a, doc_b, common,
           round(CAST(common AS DOUBLE) / sa.n, 6) AS containment_a,
           round(CAST(common AS DOUBLE) / sb.n, 6) AS containment_b
    FROM common
    JOIN (SELECT doc_id, len(sh) AS n FROM sets) sa ON sa.doc_id = doc_a
    JOIN (SELECT doc_id, len(sh) AS n FROM sets) sb ON sb.doc_id = doc_b
    WHERE greatest(round(CAST(common AS DOUBLE) / sa.n, 6),
                   round(CAST(common AS DOUBLE) / sb.n, 6))
          >= {CONTAINMENT_THRESHOLD}
"""

ORACLE_SQL["dedup_substring_spans"] = f"""
    WITH wh_t AS (
        SELECT doc_id, {duck_word_hashes(_DUCK_WORDS)} AS wh FROM documents
    ), sh_t AS (
        SELECT doc_id, {duck_shingle_hashes(k=SPAN_GRAM)} AS sh FROM wh_t
    ), pos_g AS (
        SELECT doc_id,
               unnest(range(1, len(sh) + 1)) AS pos,
               unnest(sh) AS g
        FROM sh_t
    ), cross_doc AS (
        SELECT g FROM pos_g GROUP BY g HAVING min(doc_id) <> max(doc_id)
    ), islands AS (
        SELECT doc_id, pos,
               pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
        FROM pos_g JOIN cross_doc USING (g)
    )
    SELECT doc_id, min(pos) AS span_start,
           max(pos) + {SPAN_GRAM - 1} AS span_end,
           max(pos) + {SPAN_GRAM} - min(pos) AS dup_words
    FROM islands GROUP BY doc_id, grp
"""

QUERIES = {
    "fuzzy_name_pairs": fuzzy_name_pairs,
    "dedup_substring_spans": dedup_substring_spans,
    "dedup_exact": dedup_exact,
    "dedup_minhash_signature": dedup_minhash_signature,
    "dedup_minhash_pairs": dedup_minhash_pairs,
    "dedup_minhash_canonical": dedup_minhash_canonical,
    "dedup_simhash": dedup_simhash,
    "dedup_simhash_pairs": dedup_simhash_pairs,
    "dedup_ngram_jaccard": dedup_ngram_jaccard,
    "dedup_jaccard_prefix": dedup_jaccard_prefix,
    "dedup_containment_pairs": dedup_containment_pairs,
    "inc_dedup_merge": inc_dedup_merge,
    "dedup_lsh_eval": dedup_lsh_eval,
    "corpus_curation_pipeline": corpus_curation_pipeline,
    "dedup_minhash_pairs_fast": dedup_minhash_pairs_fast,  # derived oracle (quality gate)
}
