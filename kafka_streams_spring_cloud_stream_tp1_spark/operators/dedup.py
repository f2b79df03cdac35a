"""Deduplication operators for training-data pipelines: exact,
normalized-exact, n-gram Jaccard, MinHash+LSH, SimHash.

Scale design (the whole point of these over naive pairwise):

- **Exact / normalized dedup** is one hash projection + one groupBy —
  a single shuffle on the 16-byte digest, perfectly parallel, no skew
  (md5 is uniform). At 100 TB this is the cheapest possible dedup.
- **n-gram Jaccard** joins on shared shingles instead of crossing all
  pairs: candidate generation is |doc,shingle| exploded rows hash-
  joined on the shingle — O(Σ shingle-multiplicity²) not O(n²docs).
  Common-shingle hot keys are the skew risk; the MinHash path below is
  the remedy when shingle frequency is heavy-tailed.
- **MinHash + LSH banding** reduces candidate generation to an
  equality join on (band_index, band_hash) — near-linear in corpus
  size, the standard web-scale near-dup design (the GPT-3/C4 recipe).
  k hash mins are computed in one partial-aggregating groupBy over the
  exploded shingles (map-side combine shrinks the shuffle to ~k longs
  per doc).
- **SimHash** is one projection + one explode + one groupBy: a 16-bit
  locality-sensitive signature; equal signatures = near-dup bucket.

All hashes go through `hashing.xhash` so every operator here is
bit-reproducible in the DuckDB oracle. No Python UDFs anywhere —
explode/groupBy/join plans, whole-stage-codegen end to end.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .buckets import bounded_id_buckets, intra_bucket_pairs
from .hashing import fan_out, perm_masks, xhash
from .text import tokens, word_ngrams


# verify-join strategy switch: candidate-pair lists at or under this
# count broadcast (~32 MB of 2-long struct build state); above it the
# shuffle lanes engage. Chosen from the measured count, never a
# planner estimate.
_VERIFY_BROADCAST_MAX = 2_000_000



def _hash_shingles(sh: DataFrame) -> DataFrame:
    """(doc_id, shingles array<bigint>) — xxhash64 of each shingle
    string, for the VERIFY side of the pair pipelines (r13, guide
    §2.3 narrower types / §1.2 per-task work).

    Set Jaccard is invariant under any injective map of the elements;
    xxhash64 is injective on a document pair's shingle union except
    with probability ≈ |A∪B|²/2⁶⁵ per pair (≈ 10⁻¹⁵ at 10⁴ shingles) —
    the standard fingerprint-identity trade, documented in QUERIES.md
    ("Hashed verify arrays"). What it buys at every scale: the verify
    joins shuffle 8-byte longs instead of ~25-byte shingle strings
    (~3× fewer verify-join bytes), and array_intersect compares longs
    instead of hashing/equal-ing strings (measured 1.6× on the capped
    lane's verify stage). The hash is computed once per doc per join
    side in the projection feeding the join — never per pair.

    `exact_jaccard`'s |A|+|B|−|A∩B| denominator assumes distinct
    elements, so a within-document xxhash64 collision shifts both set
    sizes, not only membership.

    Candidate GENERATION stays on the exact strings: bucket keys and
    df-eligibility counts are untouched, so discoverability is
    bit-identical to the contract; only the pair-local Jaccard
    arithmetic rides hashed identities."""
    return sh.select(
        "doc_id",
        F.transform("shingles", lambda s: F.xxhash64(s)).alias("shingles"),
    )


def _verify_jaccard(cands: DataFrame, sh: DataFrame, threshold: float) -> DataFrame:
    """Exact-Jaccard verification of a candidate pair list against the
    shingle frame — the shared tail of every pair pipeline, with the
    verify-join physical strategy picked COUNT-FIRST (round 9).
    The shingle arrays enter the verify joins as xxhash64 longs
    (`_hash_shingles`, r13) — set Jaccard is hash-invariant; see the
    helper's docstring for the collision caveat and the byte math.

    The shingle frame is CORPUS-sized (doc_id × distinct-shingle
    arrays) and must never be blindly broadcast: at the 100× lane the
    static planner's broadcast pick dies with "Not enough memory to
    build and broadcast" on the driver (an aggregate's size ESTIMATE
    made a multi-GB frame look broadcastable — planner statistics are
    exactly what lied here). But unconditionally shuffling the full
    array frame for both join keys costs 2 corpus-wide array shuffles
    (measured 3-5× the broadcast plan's cold time at 1×/10×). So the
    strategy comes from a MEASURED statistic: cands is cached and the
    verify materializes it anyway, so its exact count is free —
    count-first, the same discipline as ``buckets.bounded_id_buckets``.

    - count ≤ _VERIFY_BROADCAST_MAX: broadcast the thin pair list
      into a STREAMED pass over sh (no shuffle) for the first key,
      one shuffle_hash join for the second. ≤ ~32 MB of broadcast
      build state by the measured count, at any corpus size.
    - above: nothing is broadcastable (the Σdf² saturated regime) —
      semi-join-reduce sh to the docs that appear in a candidate
      pair (thin long keys build-side), cache the reduced frame, and
      run both verify joins shuffle_hash: build sides thin, no sort
      on array payloads, bounded per-partition state.
    """
    cands = cands.cache()
    n_cands = cands.count()
    sh = _hash_shingles(sh)
    sh_a = sh.select(F.col("doc_id").alias("doc_a"), F.col("shingles").alias("sh_a"))
    sh_b = sh.select(F.col("doc_id").alias("doc_b"), F.col("shingles").alias("sh_b"))
    if n_cands <= _VERIFY_BROADCAST_MAX:
        # Second join's build side is DELIBERATELY the pair⋈sh_a frame:
        # its row count is the measured n_cands (≤ 2M) while sh_b is
        # corpus-sized, so the hinted left is the bounded side even
        # though it carries sh_a array payloads (ADVICE r09 — the bound
        # is by count; per-partition build state stays capped by the
        # measured cap, never by a planner estimate of the corpus).
        verified = (
            F.broadcast(cands)
            .join(sh_a, "doc_a")
            .hint("shuffle_hash")
            .join(sh_b, "doc_b")
        )
    else:
        need = cands.select(
            F.explode(F.array("doc_a", "doc_b")).alias("doc_id")
        ).distinct()
        shv = sh.join(need.hint("shuffle_hash"), "doc_id", "leftsemi").cache()
        # Hint the REDUCED doc-unique frame on each join, not the
        # accumulating pair-grain left: shv holds each doc's array once
        # (≤ 2·n_cands docs) while the joined left repeats sh_a per
        # pair, so shv is the thin build side the lane's memory
        # rationale relies on (ADVICE r09).
        verified = (
            cands.hint("shuffle_hash")
            .join(
                shv.select(
                    F.col("doc_id").alias("doc_a"), F.col("shingles").alias("sh_a")
                ),
                "doc_a",
            )
            .join(
                shv.select(
                    F.col("doc_id").alias("doc_b"), F.col("shingles").alias("sh_b")
                ).hint("shuffle_hash"),
                "doc_b",
            )
        )
    return (
        verified.withColumn("jaccard", exact_jaccard("sh_a", "sh_b"))
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


def exact_jaccard(a: str, b: str) -> Column:
    """Exact Jaccard of two DISTINCT-element array columns, rounded to
    4 decimals — |A∩B| / (|A| + |B| − |A∩B|).

    Identical value to size(array_intersect)/size(array_union) on the
    distinct arrays every caller passes (inclusion–exclusion on sets),
    but ~2× cheaper per pair (r12, per-task work — optimization guide
    §1.2 step 2): array_union builds a row-sized hash set
    AND allocates the merged array only for its size to be read once,
    while |A| and |B| are O(1) header reads. Measured on the capped
    lane's 1.1M-pair verify: 10.7 s → 7.2 s for the identical result.
    `inter` appears twice in the expression; codegen's subexpression
    elimination (on by default) evaluates the array_intersect once per
    row — the measured win above confirms it lands in practice."""
    inter = F.size(F.array_intersect(a, b))
    return F.round(inter / (F.size(a) + F.size(b) - inter), 4)


def exact_dedup_groups(df: DataFrame, text_col: str = "text", normalized: bool = True) -> DataFrame:
    """Group documents by content hash; emit one row per document with
    its canonical (minimum) doc_id and the group size. ``normalized``
    hashes the sorted unique token bag (word-order/repetition
    invariant) instead of the raw bytes.

    NULL contract (null-sweep r11): NULL text has NO content key —
    unfetched content cannot be deduplicated, and hashing it to the
    empty string would collapse every failed fetch into one giant
    "duplicate" group. The NULL key drops at the inner group join in
    both engines (concat_ws would otherwise swallow the NULL into
    '')."""
    key = (
        F.when(
            F.col(text_col).isNotNull(),
            F.md5(F.concat_ws(" ", F.array_sort(F.array_distinct(tokens(text_col))))),
        )
        if normalized
        else F.md5(F.col(text_col))
    )
    hashed = df.select("doc_id", key.alias("content_key"))
    groups = hashed.groupBy("content_key").agg(
        F.min("doc_id").alias("canonical_id"), F.count(F.lit(1)).alias("group_size")
    )
    # second join is broadcast-able: groups ≤ docs, and after a real
    # dedup pass the duplicate-group table is tiny
    return hashed.join(groups, "content_key").select(
        "doc_id", "canonical_id", "group_size", (F.col("doc_id") != F.col("canonical_id")).alias("is_dup")
    )


def shingle_sets(df: DataFrame, n: int, text_col: str = "text") -> DataFrame:
    """(doc_id, shingles array<string>) — distinct word n-grams.
    Fans out first: shingling is the CPU-heavy projection and must use
    every core even when the scan gave one split."""
    return fan_out(df).select("doc_id", word_ngrams(tokens(text_col), n).alias("shingles"))


def ngram_jaccard_pairs(
    df: DataFrame, n: int = 3, threshold: float = 0.8, text_col: str = "text"
) -> DataFrame:
    """All document pairs with word-n-gram Jaccard ≥ threshold — EXACT
    result, computed with PPJoin-style prefix filtering so the
    candidate join never goes quadratic.

    Theorem (prefix filter): order every doc's shingles by one global
    total order (rarest-first here); if J(A,B) ≥ t, the first
    ⌊(1−t)·|A|⌋+1 shingles of A and of B must overlap. So candidates
    come from joining only those short, rare prefixes — common
    shingles (the quadratic blowup: Σ freq² over hot shingles) never
    enter the join. Rarest-first ordering makes prefix buckets the
    SMALLEST frequency classes, exactly inverting the hot-key skew.
    Candidates then get exact verification on the full shingle arrays.

    The verified pair set is cached: it is tiny (near-dup pairs are a
    vanishing fraction of the corpus) and every downstream consumer —
    dup-cluster transitive closure, canonical-doc selection, repeated
    inspection — re-reads it. Spark's cache manager keys on the logical
    plan, so independent calls with the same inputs share it too.

    Pruning arithmetic is EXACT and conservative w.r.t. the verify:
    the final filter keeps pairs whose 4-decimal-ROUNDED Jaccard clears
    ``threshold``, i.e. admits exact J down to t − 0.5e-4 — so every
    prune (prefix length, length filter, positional suffix bound) is
    derived from t' = t − 0.5e-4 as an exact rational and evaluated by
    integer cross-multiplication. No double product can round one ulp
    high and drop a boundary pair the oracle keeps.
    """
    from fractions import Fraction

    tp = Fraction(round(threshold * 10**4), 10**4) - Fraction(1, 2 * 10**4)
    tn, td = tp.numerator, tp.denominator  # t' = tn/td  (e.g. 15999/20000)
    sfrac = tp / (1 + tp)  # suffix-bound ratio t'/(1+t')
    sn, sd = sfrac.numerator, sfrac.denominator

    sh = shingle_sets(df, n, text_col).cache()
    # explode_outer: see text.with_fingerprints — inner explode would
    # push an inferred size()>0 filter below the fan-out exchange and
    # re-run the shingle lambda serially on the scan
    ex = sh.select(
        "doc_id", F.size("shingles").alias("n_sh"), F.explode_outer("shingles").alias("sh")
    ).filter(F.col("sh").isNotNull())
    freq = ex.groupBy("sh").agg(F.count(F.lit(1)).alias("freq"))
    # order each doc's shingles rarest-first; keep the prefix
    prefix = (
        ex.join(freq, "sh")
        .groupBy("doc_id")
        .agg(
            F.first("n_sh").alias("n_sh"),
            F.array_sort(F.collect_list(F.struct("freq", "sh"))).alias("ordered"),
        )
        .select(
            "doc_id",
            "n_sh",
            F.expr(
                # prefix length ⌊(1 − t')·|ordered|⌋ + 1, exact: (td−tn)/td
                f"slice(ordered, 1, cast(floor(cast(size(ordered) as bigint) * {td - tn} / {td}) + 1 as int))"
            ).alias("pfx"),
        )
        # posexplode: keep each prefix shingle's 1-based rank in the
        # doc's full ordered list (prefix = first k, so slice ranks =
        # full-list ranks) — feeds the positional bound below
        .select("doc_id", "n_sh", F.posexplode("pfx").alias("pos", "e"))
        .select("doc_id", "n_sh", (F.col("pos") + 1).alias("pos"), F.col("e.sh").alias("sh"))
    )
    # Pair generation by bucket, not self-join: group the prefix rows
    # per shingle, then emit qualifying pairs from each bucket's doc
    # array with higher-order functions. vs. the textbook self-join
    # this (a) computes the prefix subplan ONCE instead of once per
    # join side, (b) shuffles once (groupBy) instead of twice, and
    # (c) applies the length filter — J(A,B) ≥ t forces t·|A| ≤ |B| ≤
    # |A|/t — INSIDE the lambda, so non-qualifying pairs never
    # materialize as rows. Per-bucket work is O(|bucket|²) but prefix
    # buckets are rarest-first frequency classes, i.e. the smallest
    # ones by construction.
    # r13 (guide §1.2 step 2): sort_array puts the bucket in doc_id
    # order (unique within a bucket — shingles are distinct per doc),
    # so the inner transform over slice(ds, i+2, …) emits exactly the
    # upper triangle and the a < b predicate (with its full-b² struct
    # build) is gone. Downstream is count/max/first over the same pair
    # set — order-insensitive, so the emitted-order change is inert.
    emitted = (
        prefix.groupBy("sh")
        .agg(F.sort_array(F.collect_list(F.struct("doc_id", "n_sh", "pos"))).alias("ds"))
        .select(
            F.explode(
                F.flatten(
                    F.transform(
                        "ds",
                        lambda x, i: F.filter(
                            F.transform(
                                F.slice(F.col("ds"), i + F.lit(2), F.size("ds")),
                                lambda y: F.struct(
                                    x["doc_id"].alias("doc_a"),
                                    x["n_sh"].alias("na"),
                                    x["pos"].alias("pa"),
                                    y["doc_id"].alias("doc_b"),
                                    y["n_sh"].alias("nb"),
                                    y["pos"].alias("pb"),
                                ),
                            ),
                            # length filter t'·|A| ≤ |B| ≤ |A|/t' by
                            # integer cross-multiplication (no doubles)
                            lambda p: (p["nb"].cast("long") * td >= F.lit(tn) * p["na"])
                            & (p["na"].cast("long") * td >= F.lit(tn) * p["nb"]),
                        ),
                    )
                )
            ).alias("p")
        )
        .select("p.doc_a", "p.na", "p.pa", "p.doc_b", "p.nb", "p.pb")
    )
    # Positional suffix bound (the full PPJoin prune, Xiao et al.):
    # J ≥ t ⟺ overlap O ≥ t/(1+t)·(|A|+|B|). With o = shared-prefix
    # count and (i,j) = ranks of the globally LARGEST shared prefix
    # shingle in A's/B's ordered lists, O ≤ o + min(|A|−i, |B|−j):
    # the rarest-first order is a single global total order, so any
    # shared shingle NOT counted in o must sort after that largest one
    # — i.e. occupy one of the min(|A|−i, |B|−j) tail slots in both
    # docs (one sorting before it would sit inside both prefixes and
    # be counted). The groupBy replaces the distinct() the pair list
    # needed anyway — same shuffle, and on a corpus where the prefix
    # filter alone leaves ~1700× more candidates than true pairs this
    # bound eliminates nearly all of them before the verify join.
    cands = (
        emitted.groupBy("doc_a", "doc_b")
        .agg(
            F.count(F.lit(1)).alias("o"),
            F.first("na").alias("na"),
            F.first("nb").alias("nb"),
            F.max("pa").alias("ia"),
            F.max("pb").alias("jb"),
        )
        .filter(
            # O ≥ t'/(1+t')·(|A|+|B|) as sd·O ≥ sn·(|A|+|B|) — exact ints
            (F.col("o") + F.least(F.col("na") - F.col("ia"), F.col("nb") - F.col("jb")))
            .cast("long") * sd
            >= F.lit(sn) * (F.col("na") + F.col("nb"))
        )
        .select("doc_a", "doc_b")
        # cached: consumed by the doc-id reduction below AND the
        # verify join — uncached, the whole prefix pipeline would
        # execute once per consumer
        .cache()
    )
    return _verify_jaccard(cands, sh, threshold).cache()


def containment_pairs(
    df: DataFrame,
    n: int = 3,
    threshold: float = 0.5,
    text_col: str = "text",
    max_df: int = 64,
) -> DataFrame:
    """Document pairs by n-gram set CONTAINMENT — C(A→B) = |A∩B|/|A| —
    kept when either direction clears ``threshold``. Containment is
    the asymmetric complement to `ngram_jaccard_pairs`: a short doc
    fully embedded in a long one (quote farms, wrapper boilerplate,
    excerpt pages) has high containment but LOW Jaccard (the union is
    dominated by the long doc), so Jaccard dedup misses exactly the
    near-superset duplicates this catches. Returns
    (doc_a, doc_b, n_shared, containment_a, containment_b),
    doc_a < doc_b, containments rounded to 4.

    Candidate generation is the per-shingle bucket-group (one shuffle,
    no shingle self-join, same shape as winnow_overlap_pairs):
    shingles held by fewer than 2 or more than ``max_df`` docs are
    dropped before pair emission — singletons generate nothing and
    over-shared shingles are boilerplate whose b² pair blow-up is the
    scale killer. n_shared therefore counts only sub-``max_df``
    shingles (both engines agree; the denominators |A|, |B| stay
    uncapped), making the score conservative on boilerplate-heavy
    pairs by design.
    """
    sh = shingle_sets(df, n, text_col)
    # carry each doc's set size INSIDE the bucket structs: the pair
    # emitter then has both denominators in-row and the corpus-sized
    # (doc_id, n_sh) table never joins back (a join would shuffle or
    # broadcast one row per document — wrong at corpus scale; the
    # struct rides the same one shuffle the buckets already pay).
    # sort_array on (doc_id, n_sh) structs orders by doc_id first, so
    # pair emission stays deterministic.
    ex = sh.select(
        "doc_id",
        F.size("shingles").alias("n_sh"),
        F.explode_outer("shingles").alias("g"),
    ).filter(F.col("g").isNotNull())
    # df-eligibility decided COUNT-FIRST (the round-8 hot-bucket
    # discipline, buckets.bounded_id_buckets): a boilerplate shingle
    # is dropped while it is still a counter row, never materialized
    # as a corpus-sized struct array on one reducer
    counts = ex.groupBy("g").agg(F.count(F.lit(1)).alias("_df"))
    eligible = counts.filter((F.col("_df") >= 2) & (F.col("_df") <= max_df))
    buckets = (
        ex.join(eligible.select("g"), "g")
        .groupBy("g")
        .agg(F.sort_array(F.collect_list(F.struct("doc_id", "n_sh"))).alias("ds"))
    )
    # r13 (guide §1.2 step 2): upper-triangle emission over
    # slice(ds, i+2, …) — ds is sorted with unique doc_id per bucket,
    # so j > i ⟺ doc_b > doc_a and the a < b filter (with its full-b²
    # struct build) is gone; same pair set, half the element work.
    pairs = buckets.select(
        F.explode(
            F.flatten(
                F.transform(
                    "ds",
                    lambda x, i: F.transform(
                        F.slice(F.col("ds"), i + F.lit(2), F.size("ds")),
                        lambda y: F.struct(
                            x["doc_id"].alias("doc_a"),
                            x["n_sh"].alias("n_a"),
                            y["doc_id"].alias("doc_b"),
                            y["n_sh"].alias("n_b"),
                        ),
                    ),
                )
            )
        ).alias("p")
    ).select("p.doc_a", "p.n_a", "p.doc_b", "p.n_b")
    shared = pairs.groupBy("doc_a", "n_a", "doc_b", "n_b").agg(
        F.count(F.lit(1)).alias("n_shared")
    )
    ca = F.col("n_shared") / F.col("n_a")
    cb = F.col("n_shared") / F.col("n_b")
    return (
        shared.filter(F.greatest(ca, cb) >= threshold)
        .select(
            "doc_a",
            "doc_b",
            "n_shared",
            F.round(ca, 4).alias("containment_a"),
            F.round(cb, 4).alias("containment_b"),
        )
    )


def minhash_signatures(df: DataFrame, k: int = 12, n: int = 2, text_col: str = "text") -> DataFrame:
    """(doc_id, sig_0..sig_{k-1}) MinHash signature over word n-gram
    shingles. Permutation i is XOR with a fixed mask (see hashing.py);
    all k minima come out of ONE groupBy over the exploded shingles —
    partial aggregation collapses each partition to one row per doc
    before the shuffle. Documents shorter than n words have no
    shingles and drop out (callers treat them as unique)."""
    masks = perm_masks(k)
    ex = (
        shingle_sets(df, n, text_col)
        .select("doc_id", F.explode_outer("shingles").alias("sh"))
        .filter(F.col("sh").isNotNull())
        .select("doc_id", xhash(F.col("sh")).alias("h"))
    )
    return ex.groupBy("doc_id").agg(
        *[F.min(F.col("h").bitwiseXOR(F.lit(m))).alias(f"sig_{i}") for i, m in enumerate(masks)]
    )


def _lsh_band_rows(sig: DataFrame, bands: int, rows: int) -> DataFrame:
    """Unpivot a MinHash signature frame to (doc_id, band, bh) rows —
    one row per (doc, band), band hash = md5 over that band's `rows`
    consecutive signature components."""
    band_cols = [
        F.md5(F.concat_ws("|", *[F.col(f"sig_{b * rows + r}").cast("string") for r in range(rows)])).alias(
            f"band_{b}"
        )
        for b in range(bands)
    ]
    banded = sig.select("doc_id", *band_cols)
    return banded.select(
        "doc_id",
        F.explode(
            F.array(*[F.struct(F.lit(b).alias("band"), F.col(f"band_{b}").alias("bh")) for b in range(bands)])
        ).alias("e"),
    ).select("doc_id", F.col("e.band").alias("band"), F.col("e.bh").alias("bh"))


def lsh_candidate_pairs(
    sig: DataFrame, bands: int = 4, rows: int = 3, max_bucket: int | None = 64
) -> DataFrame:
    """LSH banding over a MinHash signature: hash each band of `rows`
    consecutive signature components; docs sharing any (band, hash)
    bucket become a candidate pair. Probability a pair with Jaccard j
    becomes a candidate: 1 − (1 − j^rows)^bands (≈0.94 at j=0.8 with
    4×3, ≈0.004 at j=0.1) — the S-curve that makes this near-linear.

    Pairs are emitted per bucket by grouping, never by self-joining
    band rows: the signature plan (shingle explode + k-way min agg)
    runs once and pairs come out of each bucket's sorted doc array.
    ``max_bucket`` bounds the one skew hazard left — a bucket of b
    docs is b·(b−1)/2 pairs, and a mega dup-family (or an adversarial
    band collision) makes b corpus-scale. Buckets larger than
    ``max_bucket`` are dropped BEFORE their doc arrays materialize
    (count-first eligibility, `buckets.bounded_id_buckets`): per-bucket
    work ≤ max_bucket² by construction, and the family itself is
    still fully recoverable — a dup family of size f occupies f/b
    surviving sub-buckets across `bands` bands with near-certainty,
    and exact dedup should collapse byte-identical members first
    anyway. Dropped buckets are observable via
    ``lsh_overloaded_buckets`` (same inputs). ``None`` disables the
    cap (small-corpus / audit use)."""
    stacked = _lsh_band_rows(sig, bands, rows)
    buckets = bounded_id_buckets(stacked, ["band", "bh"], min_df=2, max_df=max_bucket)
    return intra_bucket_pairs(buckets).distinct()


def lsh_bucket_profile(sig: DataFrame, bands: int = 4, rows: int = 3) -> DataFrame:
    """Bucket-size histogram of the LSH band space — the skew audit a
    pipeline reads BEFORE choosing `lsh_candidate_pairs`' max_bucket
    cap: one row per observed bucket size b with the number of such
    buckets and the candidate-pair mass b·(b−1)/2 they would emit.
    The whole profile is count-only aggregation (band rows → bucket
    counts → size histogram, both map-side combined); no doc array or
    pair ever materializes, so it runs at any corpus size for the
    cost of the signature pass."""
    sizes = (
        _lsh_band_rows(sig, bands, rows)
        .groupBy("band", "bh")
        .agg(F.count(F.lit(1)).alias("b"))
    )
    return (
        sizes.groupBy(F.col("b").cast("long").alias("bucket_size"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_buckets"))
        .select(
            "bucket_size",
            "n_buckets",
            (
                F.col("n_buckets") * F.col("bucket_size") * (F.col("bucket_size") - 1) / 2
            )
            .cast("long")
            .alias("n_pairs"),
        )
    )


def lsh_overloaded_buckets(
    sig: DataFrame, bands: int = 4, rows: int = 3, max_bucket: int = 64
) -> DataFrame:
    """(band, bh, bucket_size) for the band buckets that
    `lsh_candidate_pairs` drops under the same ``max_bucket`` cap —
    the audit report a pipeline logs next to the pairs (sum of
    b·(b−1)/2 here = suppressed candidate count). Count-only: never
    materializes the bucket membership."""
    return (
        _lsh_band_rows(sig, bands, rows)
        .groupBy("band", "bh")
        .agg(F.count(F.lit(1)).alias("bucket_size"))
        .filter(F.col("bucket_size") > max_bucket)
    )


def minhash_lsh_dedup(
    df: DataFrame,
    k: int = 12,
    bands: int = 4,
    rows: int = 3,
    n: int = 2,
    threshold: float = 0.8,
    text_col: str = "text",
) -> DataFrame:
    """Full MinHash→LSH→verify pipeline: banded candidates, then exact
    n-gram Jaccard verification on ONLY the candidate pairs (the
    verify join touches |candidates| rows, not O(n²))."""
    cands = lsh_candidate_pairs(minhash_signatures(df, k, n, text_col), bands, rows)
    # cache: used by both the signature branch (same logical plan —
    # Spark's cache manager matches it) and the verify join below
    sh = shingle_sets(df, n, text_col).cache()
    # candidate mass is CAP-BOUNDED by construction (max_bucket per
    # band bucket), so the fused AQE-planned join is safe and keeps the
    # whole pipeline one job — validated at the 100x lane in round 8.
    # The count-first strategy switch (_verify_jaccard) is reserved for
    # the UNCAPPED exact lane whose candidate mass is unbounded.
    # Verify arrays ride as xxhash64 longs (r13, _hash_shingles) — the
    # hash projection sits ABOVE the cached string frame, so the cache
    # stays shared with the signature branch.
    shh = _hash_shingles(sh)
    return (
        cands.join(shh.select(F.col("doc_id").alias("doc_a"), F.col("shingles").alias("sh_a")), "doc_a")
        .join(shh.select(F.col("doc_id").alias("doc_b"), F.col("shingles").alias("sh_b")), "doc_b")
        .withColumn("jaccard", exact_jaccard("sh_a", "sh_b"))
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


def dup_clusters(pairs: DataFrame, max_iters: int = 20) -> DataFrame:
    """Connected components over near-dup pairs (doc_a, doc_b) — the
    canonical post-dedup step: pairs only say "a ~ b"; keeping one
    canonical doc per GROUP needs the transitive closure.

    Label propagation WITH pointer jumping: every doc starts labeled
    with its own id; each round every doc adopts the minimum of (its
    label, its neighbors' labels, its label's label). The last term is
    the path-halving shortcut from pointer-jumping connectivity
    algorithms (the same device behind large-star/small-star, Kiveris
    et al., "Connected Components in MapReduce and Beyond", SoCC'14):
    a chain of length d collapses in O(log d) rounds instead of O(d).
    The invariant that makes the shortcut sound: label(v) is always the
    id of a node in v's own component, so label(label(v)) is too.

    Driver-loop costs are batched: each round is checkpointed (lineage
    truncation so round N doesn't replay rounds 1..N-1) but the
    convergence probe — a blocking action — runs only every 2nd round;
    with O(log d) convergence that halves the job count where plain
    per-round probing dominated the wall clock.

    If ``max_iters`` rounds pass without reaching the fixpoint the
    result would silently contain split clusters, so that raises
    RuntimeError instead (with log(d) convergence, 20 rounds covers a
    diameter of ~2^20 — any real hit means pathological input).

    Returns (doc_id, cluster_id = min doc_id in the component),
    covering only docs that appear in ≥1 pair.
    """
    # symmetrize in ONE pass over pairs — a union of two selects on
    # `pairs` would execute the (expensive) pair-generation subplan
    # twice; explode duplicates each row to both directions instead
    # Every frame the loop re-reads is EAGERLY materialized
    # (localCheckpoint): the round bodies self-join their own inputs
    # (labels twice in the propagate step, stepped twice in the jump
    # step), and Spark re-executes an unmaterialized subplan once per
    # use — round 0 would otherwise replay the whole upstream
    # pair-generation plan several times inside one job.
    #
    # No distinct() on the edge list: (doc_a < doc_b) pairs are unique,
    # and every read of `edges` below is a min-aggregation, which is
    # duplicate-insensitive — the dedup shuffle would buy nothing.
    edges = (
        pairs.select(
            F.explode(
                F.array(
                    F.struct(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")),
                    F.struct(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst")),
                )
            ).alias("e")
        )
        .select("e.src", "e.dst")
        .localCheckpoint()
    )
    # Round 0, fused: with identity labels the propagate step is just
    # label(v) = min(v, min neighbor) — one groupBy straight off the
    # edge list, no join, and it doubles as the node-set derivation.
    labels = (
        edges.groupBy(F.col("src").alias("doc_id"))
        .agg(F.min("dst").alias("m"))
        .select("doc_id", F.least("doc_id", "m").alias("cluster_id"))
        .localCheckpoint()
    )
    for it in range(1, max_iters):
        neighbor_min = (
            edges.join(labels.withColumnRenamed("doc_id", "dst"), "dst")
            .groupBy(F.col("src").alias("doc_id"))
            .agg(F.min("cluster_id").alias("nbr_min"))
        )
        stepped = (
            labels.join(neighbor_min, "doc_id", "left")
            .select(
                "doc_id",
                F.least(F.col("cluster_id"), F.coalesce("nbr_min", "cluster_id")).alias(
                    "cluster_id"
                ),
                (F.coalesce("nbr_min", "cluster_id") < F.col("cluster_id")).alias("_c1"),
            )
            .localCheckpoint()  # shallow plan for the self-join below
        )
        # pointer jumping: adopt label(label(v)). Left join (not inner)
        # so a row whose label was just improved past the frontier
        # still survives the round.
        parent = stepped.select(
            F.col("doc_id").alias("_p_id"), F.col("cluster_id").alias("_p_label")
        )
        # fold the convergence flag into the same checkpointed frame:
        # detecting "any label improved" is then a scan of the
        # materialized rows, not another join+shuffle per round
        step = (
            stepped.join(parent, stepped["cluster_id"] == parent["_p_id"], "left")
            .select(
                "doc_id",
                F.least(F.col("cluster_id"), F.coalesce("_p_label", "cluster_id")).alias(
                    "cluster_id"
                ),
                (
                    F.col("_c1")
                    | (F.coalesce("_p_label", "cluster_id") < F.col("cluster_id"))
                ).alias("_changed"),
            )
            .localCheckpoint()  # truncate lineage: O(1) plan per round
        )
        labels = step.select("doc_id", "cluster_id")
        # probe on odd rounds only (and the last): the fixpoint test is
        # "no change in the LATEST round", so skipping even-round probes
        # costs at most one extra (cheap, checkpointed) round
        if it % 2 == 1 or it == max_iters - 1:
            if not step.filter("_changed").take(1):
                return labels
    raise RuntimeError(
        f"dup_clusters did not converge within max_iters={max_iters} rounds; "
        "result would contain split clusters (pathological chain input?)"
    )


def contamination_flags(
    corpus: DataFrame, probes: DataFrame, n: int = 4, text_col: str = "text"
) -> DataFrame:
    """Benchmark decontamination (the GPT-3/PaLM recipe): flag corpus
    documents sharing ≥ 1 word n-gram with ANY probe (eval-set)
    document, with the count of distinct shared n-grams.

    Scale shape: the probe shingle set is tiny relative to the corpus
    (benchmark suites are MBs against a 100 TB corpus), so it is
    BROADCAST — the corpus is scanned exactly once, never shuffled for
    the join, and only hit rows (a vanishing fraction) reach the
    per-doc count shuffle. Returns (doc_id, n_hits, contaminated) for
    every corpus doc.
    """
    corpus_sh = (
        shingle_sets(corpus, n, text_col)
        .select("doc_id", F.explode_outer("shingles").alias("g"))
        .filter(F.col("g").isNotNull())
    )
    probe_sh = (
        shingle_sets(probes, n, text_col)
        .select(F.explode_outer("shingles").alias("g"))
        .filter(F.col("g").isNotNull())
        .distinct()
    )
    # shingle arrays are distinct per doc and the probe set is distinct,
    # so n_hits counts distinct shared n-grams exactly
    hits = (
        corpus_sh.join(F.broadcast(probe_sh), "g")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    return (
        corpus.select("doc_id")
        .join(hits, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_hits", F.lit(0)).cast("long").alias("n_hits"),
            (F.coalesce("n_hits", F.lit(0)) > 0).alias("contaminated"),
        )
    )


def simhash_signatures(df: DataFrame, bits: int = 16, text_col: str = "text") -> DataFrame:
    """(doc_id, simhash) — per-token hashes vote ±1 on each signature
    bit; bit j of the result is 1 iff the weighted sum is positive.
    Near-identical token distributions give equal (or Hamming-close)
    signatures. 16 bits keeps the oracle SQL readable; widen to 64 by
    changing `bits` (same plan: one explode + one groupBy)."""
    toks = fan_out(df).select("doc_id", F.explode(tokens(text_col)).alias("tok"))
    # dictionary-memoized hashing: md5-hash each DISTINCT token once
    # and join the dictionary back — token occurrences vastly
    # outnumber the vocabulary, so this turns ~|occurrences| md5 calls
    # into ~|vocab| (same values, the hash is deterministic per
    # token). No broadcast hint: AQE broadcasts small dictionaries by
    # stats and falls back to a shuffle join for open vocabularies.
    dictionary = toks.select("tok").distinct().select("tok", xhash(F.col("tok")).alias("h"))
    ex = toks.join(dictionary, "tok").select("doc_id", "h")
    votes = ex.groupBy("doc_id").agg(
        *[
            F.sum(
                F.when(F.shiftright(F.col("h"), j).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
            ).alias(f"bit_{j}")
            for j in range(bits)
        ]
    )
    sim = None
    for j in range(bits):
        term = F.when(F.col(f"bit_{j}") > 0, F.lit(1 << j)).otherwise(F.lit(0))
        sim = term if sim is None else sim + term
    # cached: one long per doc (tiny even at corpus scale), and the
    # equal-signature and Hamming-ball queries both consume the same
    # signature plan — Spark's cache manager shares it between them
    return votes.select("doc_id", sim.cast("long").alias("simhash")).cache()


def simhash_hamming_pairs(
    df: DataFrame, bits: int = 16, max_distance: int = 1, text_col: str = "text"
) -> DataFrame:
    """All document pairs whose SimHash signatures are within
    ``max_distance`` Hamming bits — EXACT, via pigeonhole segment
    blocking (the Manku/Jain/Sarma web-crawl dedup design): split the
    signature into ``max_distance + 1`` bit segments; d differing bits
    cannot touch all d+1 segments, so any qualifying pair agrees
    exactly on ≥ 1 segment and is found in that segment's
    (segment, value) bucket. Candidate generation runs over DISTINCT
    signatures, not documents: a (seg, val) bucket can hold at most
    2^(bits − width(seg)) distinct signatures WHATEVER the corpus
    size (256 at 16 bits / 2 segments), so the in-bucket pair scan is
    constant-bounded by construction. Document pairs then materialize
    through streaming equi-joins — equal-signature pairs via a
    sig-keyed self-join (hamming 0), cross-signature pairs by joining
    each candidate signature pair back to its member docs — so every
    output row is produced exactly once (no corpus-sized DISTINCT)
    and nothing quadratic is ever held in one task. The only
    remaining quadratic is the TRUE pair mass of equal-signature
    floods — the answer's own size, which AQE skew-split streams.
    (The first cut collected docs per bucket and built |bucket|²
    in-array candidates; with only 2^width bucket values, buckets
    grow O(n) and that array O(n²) — measured: 32 GB OOM at the 100×
    lane. This form runs it in seconds.)"""
    segs = max_distance + 1
    widths = [bits // segs + (1 if i < bits % segs else 0) for i in range(segs)]
    offs = [sum(widths[:i]) for i in range(segs)]
    sig = simhash_signatures(df, bits, text_col).localCheckpoint(eager=False)
    sigs = sig.select("simhash").distinct()
    stacked = sigs.select(
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("seg"),
                        F.shiftright("simhash", offs[i])
                        .bitwiseAND(F.lit((1 << widths[i]) - 1))
                        .alias("val"),
                    )
                    for i in range(segs)
                ]
            )
        ).alias("e"),
    ).select("simhash", "e.seg", "e.val")
    cand = (
        stacked.groupBy("seg", "val")
        .agg(F.collect_list("simhash").alias("ss"))
        .select(
            F.explode(
                F.flatten(
                    F.transform(
                        "ss",
                        lambda x: F.filter(
                            F.transform(
                                "ss",
                                lambda y: F.struct(
                                    x.alias("sig_a"),
                                    y.alias("sig_b"),
                                    F.bit_count(x.bitwiseXOR(y)).alias("hamming"),
                                ),
                            ),
                            lambda p: (p["sig_a"] < p["sig_b"])
                            & (p["hamming"] <= F.lit(max_distance)),
                        ),
                    )
                )
            ).alias("p")
        )
        .select("p.sig_a", "p.sig_b", "p.hamming")
        .distinct()
    )
    intra = (
        sig.alias("x")
        .join(sig.alias("y"), F.col("x.simhash") == F.col("y.simhash"))
        .filter(F.col("x.doc_id") < F.col("y.doc_id"))
        .select(
            F.col("x.doc_id").alias("doc_a"),
            F.col("y.doc_id").alias("doc_b"),
            F.lit(0).alias("hamming"),
        )
    )
    cross = (
        cand.join(sig.alias("a"), F.col("sig_a") == F.col("a.simhash"))
        .join(sig.alias("b"), F.col("sig_b") == F.col("b.simhash"))
        .select(
            F.least("a.doc_id", "b.doc_id").alias("doc_a"),
            F.greatest("a.doc_id", "b.doc_id").alias("doc_b"),
            "hamming",
        )
    )
    return intra.unionAll(cross)


def simhash_dup_groups(df: DataFrame, bits: int = 16, text_col: str = "text") -> DataFrame:
    """Documents sharing an identical SimHash signature, with group
    size and canonical id — the bucketing stage of SimHash dedup (a
    Hamming-ball probe over bit-rotations extends it; exact-equal
    buckets are already the high-precision core)."""
    sig = simhash_signatures(df, bits, text_col)
    groups = sig.groupBy("simhash").agg(
        F.min("doc_id").alias("canonical_id"), F.count(F.lit(1)).alias("group_size")
    )
    return (
        sig.join(groups, "simhash")
        .filter(F.col("group_size") > 1)
        .select("doc_id", "simhash", "canonical_id", "group_size")
    )


def simhash_width_audit(
    df: DataFrame, widths: tuple[int, ...] = (16, 32), text_col: str = "text"
) -> DataFrame:
    """Signature-width selection audit: the collision profile of the
    SimHash space at each candidate bit width, from ONE vote pass —
    one row per width with (n_docs, n_distinct_sigs,
    n_collision_groups, n_docs_in_collisions).

    This operationalizes the 100× lesson recorded in BASELINE.md
    ("Where the simhash GRAPH ends"): at a fixed narrow width the
    signature space saturates as the corpus grows and equal-signature
    "near-dup" groups become hash collisions, not duplicates — the
    audit a pipeline runs BEFORE building the near-dup graph to pick
    the width where collision mass tracks true duplicate mass (the
    published web-scale setting is 64 bits). Bit j of a narrower
    width is bit j of the wider one (votes are per-bit independent),
    so every width derives from the same max(widths)-bit vote
    aggregate: one token explode, one doc-keyed groupBy (map-side
    combined), then |widths| signature-grain aggregates — count-only
    end to end, no doc lists, scale-flat beyond the token pass."""
    bits = max(widths)
    # r13 note (examined, left): the dictionary fork re-runs the
    # tokenize+explode pass on the broadcast-join stream side (no
    # shared exchange). A (doc_id, tok, cnt) pre-aggregate would let
    # both branches share one exchange, but it shuffles every token
    # row — measured SLOWER warm at sf0.1 (1.71 → 1.94 s) and
    # corpus-sized shuffle bytes at scale vs a CPU-only re-scan
    # (guide §2.3: don't trade a narrow re-read for a payload
    # shuffle). The two-pass shape stands.
    toks = fan_out(df).select("doc_id", F.explode(tokens(text_col)).alias("tok"))
    dictionary = toks.select("tok").distinct().select("tok", xhash(F.col("tok")).alias("h"))
    ex = toks.join(dictionary, "tok").select("doc_id", "h")
    votes = ex.groupBy("doc_id").agg(
        *[
            F.sum(
                F.when(F.shiftright(F.col("h"), j).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
            ).alias(f"bit_{j}")
            for j in range(bits)
        ]
    )

    def _sig(w: int):
        sim = None
        for j in range(w):
            term = F.when(F.col(f"bit_{j}") > 0, F.lit(1 << j)).otherwise(F.lit(0))
            sim = term if sim is None else sim + term
        return sim.cast("long")

    sigs = votes.select(
        "doc_id", *[_sig(w).alias(f"sig_{w}") for w in widths]
    ).localCheckpoint(eager=True)  # referenced once per width below

    out = None
    for w in widths:
        g = sigs.groupBy(F.col(f"sig_{w}").alias("s")).agg(
            F.count(F.lit(1)).alias("c")
        )
        prof = g.agg(
            F.lit(w).cast("long").alias("bits"),
            F.coalesce(F.sum("c"), F.lit(0)).cast("long").alias("n_docs"),
            F.count(F.lit(1)).cast("long").alias("n_distinct_sigs"),
            F.count(F.when(F.col("c") > 1, 1)).cast("long").alias("n_collision_groups"),
            F.coalesce(F.sum(F.when(F.col("c") > 1, F.col("c"))), F.lit(0))
            .cast("long")
            .alias("n_docs_in_collisions"),
        )
        out = prof if out is None else out.unionByName(prof)
    return out


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Dataset-version diff: classify every document id across two
    corpus snapshots as added / removed / changed / unchanged by
    comparing content fingerprints — the audit step between dataset
    releases (what changed since the crawl we trained on?). Returns
    one row per id with its status.

    Plan: each side collapses to (id, md5(text)) AT THE SCAN (text
    never crosses the wire — only 32-byte fingerprints), then ONE
    full outer join on the id; status is a null-pattern CASE
    projection. Id-grain rows are unique per side so the join is
    skew-free by construction; at 100 TB this is two pruned scans and
    a single co-partitioned exchange pair."""
    o = old.select(F.col(id_col).alias("id"), F.md5(text_col).alias("old_fp"))
    n = new.select(F.col(id_col).alias("id"), F.md5(text_col).alias("new_fp"))
    j = o.join(n, "id", "full_outer")
    status = (
        F.when(F.col("old_fp").isNull(), F.lit("added"))
        .when(F.col("new_fp").isNull(), F.lit("removed"))
        .when(F.col("old_fp") != F.col("new_fp"), F.lit("changed"))
        .otherwise(F.lit("unchanged"))
    )
    return j.select(F.col("id").alias(id_col), status.alias("status"))


def snm_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    window: int = 5,
    block_chars: int = 2,
    key_chars: int = 24,
    threshold: float = 0.5,
    key_start: int = 0,
) -> DataFrame:
    """Sorted-neighborhood near-dup candidates (Hernández & Stolfo's
    merge/purge): sort documents by a normalized key, compare each doc
    only against its ``window``−1 successors, verify with word-set
    Jaccard ≥ ``threshold``. The classic alternative blocking family
    to MinHash/SimHash: hash blocking scatters typo-class near-dups
    across buckets, while lexicographic sorting keeps shared-prefix
    variants adjacent — O(n·window) comparisons total.

    Scale shape: the sort is NOT global — docs hash-partition by the
    key's ``block_chars`` prefix and sort within the block, so the
    plan is one keyed exchange + in-partition sort + ``window``−1
    lead() projections (no join at all; the candidate's token array
    rides the window frame). Pairs straddling a block boundary are
    dropped — the standard blocked-SNM trade, recovered in practice
    by a second pass on a rotated key. Prefix-skewed corpora (every
    doc starting 'the …') concentrate in few blocks; lengthen
    ``block_chars`` or key on a normalized infix to re-spread.

    Output: (doc_a, doc_b, jaccard) with doc_a < doc_b, rounded to 4
    so the threshold cut is stable cross-engine."""
    from pyspark.sql import Window

    from .text import tokens

    # ``key_start`` rotates the sort key into the normalized text —
    # the standard multi-pass SNM recipe: pairs straddling a block
    # boundary under one key sort adjacent under a rotated key, so
    # union(snm_pairs(start=0), snm_pairs(start=k)).distinct()
    # recovers boundary pairs without widening the window.
    key = F.substring(
        F.regexp_replace(F.lower(F.col(text_col)), "[^a-z0-9]", ""),
        1 + key_start,
        key_chars,
    )
    # r13: token identities ride as xxhash64 longs — Jaccard is
    # hash-invariant (collision caveat: QUERIES.md "Hashed verify
    # arrays"), and the window shuffle + the window-1 lead() frames
    # carry 8-byte longs instead of token strings.
    base = fan_out(df).select(
        F.col(id_col).alias("id"),
        key.alias("k"),
        F.transform(F.array_distinct(tokens(text_col)), lambda t: F.xxhash64(t)).alias("toks"),
    ).withColumn("blk", F.substring(F.col("k"), 1, block_chars))
    w = Window.partitionBy("blk").orderBy("k", "id")
    # r13 (guide §2.4): ONE window pass computing all window−1 leads,
    # exploded to neighbor rows — the former per-offset union replayed
    # the exchange+sort+window stage once per offset (the exchange was
    # AQE-reused; the sort and lead projection were not). Same row
    # multiset: explode emits one row per non-null (nid, ntoks), which
    # is exactly what each union branch's filter kept.
    neighbors = F.array(
        *[
            F.struct(
                F.lead("id", i).over(w).alias("nid"),
                F.lead("toks", i).over(w).alias("ntoks"),
            )
            for i in range(1, window)
        ]
    )
    shifted = (
        # window exprs and the generator must sit in separate selects
        base.select("id", "toks", neighbors.alias("nbs"))
        .select("id", "toks", F.explode("nbs").alias("nb"))
        .select("id", "toks", F.col("nb.nid").alias("nid"), F.col("nb.ntoks").alias("ntoks"))
        .filter(F.col("nid").isNotNull())
    )
    jac = exact_jaccard("toks", "ntoks")
    return (
        shifted.select(
            F.least("id", "nid").alias("doc_a"),
            F.greatest("id", "nid").alias("doc_b"),
            jac.alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def bloom_positions(
    fingerprint,  # Column: string fingerprint
    m: int,
    k: int,
    salt: str = "bloom",
):
    """Array Column of the ``k`` Bloom bit positions (each in [0, m))
    for a string fingerprint — the engine-portable 60-bit md5 hash
    (operators/hashing.py) salted per slot, so Spark and the DuckDB
    oracle derive bit-identical positions."""
    return F.array(
        *[
            (xhash(F.concat_ws("#", F.lit(f"{salt}{i}"), fingerprint)) % m).alias(
                f"p{i}"
            )
            for i in range(k)
        ]
    )


def bloom_dedup_gate(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    m: int = 4096,
    k: int = 3,
    new_mod: int = 5,
    new_rem: int = 4,
) -> DataFrame:
    """Bloom-filter exact-dup admission gate — the cheap sibling of the
    MinHash probe (`q_incremental_dedup`): before a new crawl batch
    pays for shingling/signatures, test each new document's normalized
    content fingerprint against a Bloom filter built from the EXISTING
    corpus (Bloom 1970; Broder & Mitzenmacher's survey frames exactly
    this membership-gate use). A doc whose ``k`` bit positions are all
    set is a *probable* duplicate (false-positive rate
    (1-e^{-kn/m})^k, zero false negatives for the exact-match
    fingerprint) and is routed to the expensive verify stage; a doc
    with any clear bit is DEFINITELY new and skips it.

    Split: ``doc_id % new_mod == new_rem`` is the "new batch" slice,
    the rest is the existing corpus — the same deterministic
    convention as `q_incremental_dedup` so the two gates are
    comparable on the same data.

    Representation: the filter is the DISTINCT set of set bit
    positions (≤ m rows of one integer) rather than a packed bitmap —
    semantically identical membership answers, exactly replayable in
    SQL, and the broadcast build is what a production deployment does
    anyway (m bits ≪ executor memory; Spark's own
    `DataFrameStatFunctions.bloomFilter` is the packed equivalent
    when oracle parity is not needed). Plan shape: one map-side
    projection per side, a ≤m-row DISTINCT (broadcast), a broadcast
    LEFT join from the k·|new| exploded positions, one |new|-keyed
    count — no corpus-sized shuffle, no self-join. At 100 TB the old
    side's position set is a prebuilt artifact read from storage and
    only the new batch is scanned.

    Output: (doc_id, hits, maybe_dup) for every new-batch doc —
    ``hits`` = how many of its k positions are set, ``maybe_dup`` =
    all k set."""
    fp = F.md5(
        F.concat_ws(" ", F.array_sort(F.array_distinct(tokens(text_col))))
    )
    base = df.select(F.col(id_col).alias("doc_id"), fp.alias("fp"))
    pos = base.select(
        "doc_id", F.explode(bloom_positions(F.col("fp"), m, k)).alias("pos")
    )
    old_bits = (
        pos.filter(F.col("doc_id") % new_mod != new_rem).select("pos").distinct()
    )
    new_pos = pos.filter(F.col("doc_id") % new_mod == new_rem)
    hit = new_pos.join(
        F.broadcast(old_bits.withColumn("set_", F.lit(1))), "pos", "left"
    )
    return (
        hit.groupBy("doc_id")
        .agg(F.sum(F.coalesce(F.col("set_"), F.lit(0))).cast("long").alias("hits"))
        .select("doc_id", "hits", (F.col("hits") == k).alias("maybe_dup"))
    )


def exact_substring_grams(
    df: DataFrame,
    gram_len: int,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(doc_id, h) — DISTINCT hashes of every length-``gram_len``
    character window of the document (char-level shingling at stride
    1). Any exact substring of length ≥ gram_len shared between two
    documents contains at least one aligned length-gram_len window,
    so window-hash equality is a complete (no-false-negative) test
    for "shares an exact substring of ≥ gram_len chars" — the
    distributed form of the ExactSubstr criterion (Lee et al. 2021,
    "Deduplicating Training Data Makes Language Models Better",
    which builds a suffix array to the same end).

    Cost is O(total characters) rows — the honest price of exact
    fidelity (the suffix array is also linear in the corpus). The
    explode runs inside one codegen'd projection after `fan_out`, the
    per-doc DISTINCT collapses repeated windows before any shuffle."""
    t = F.col("t")
    n_wins = F.greatest(F.length(t) - gram_len + 1, F.lit(0))
    return (
        fan_out(df, key=id_col)
        .select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("t"))
        .filter(F.length(t) >= gram_len)
        .select(
            "doc_id",
            F.explode(F.sequence(F.lit(1), n_wins)).alias("p"),
            t.alias("t"),
        )
        .select("doc_id", xhash(F.col("t").substr(F.col("p"), F.lit(gram_len))).alias("h"))
        .distinct()
    )


def exact_substring_dedup(
    df: DataFrame,
    gram_len: int = 40,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document exact-substring contamination profile: how many of
    the doc's distinct length-``gram_len`` char windows also occur in
    at least one OTHER document, plus the share of its windows that
    are cross-doc duplicated — the document-level ExactSubstr verdict
    that complements `q_chunk_dedup_rewrite` (CDC chunks) with
    window-exact fidelity: CDC can split two copies of the same
    passage at different cut points; stride-1 char windows cannot
    miss.

    Plan: `exact_substring_grams` (O(chars) rows, per-doc DISTINCT) →
    gram-keyed aggregate keeping only grams seen in ≥2 docs (the
    duplicated-gram index is dup-mass-sized, not corpus-sized) → one
    broadcast-able join back and a per-doc count. No self-join, no
    pair explosion: the output is per-document, so work stays linear
    in corpus characters even when a boilerplate gram occurs in a
    million docs (the gram index row carries a count, never the doc
    list).

    Output: (doc_id, n_grams, n_shared_grams, shared_frac) for every
    doc with at least one window."""
    grams = exact_substring_grams(df, gram_len, text_col, id_col)
    dup_grams = (
        grams.groupBy("h")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .filter(F.col("n_docs") >= 2)
        .select("h")
    )
    flagged = grams.join(dup_grams.withColumn("dup", F.lit(1)), "h", "left")
    return (
        flagged.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_grams"),
            F.sum(F.coalesce(F.col("dup"), F.lit(0))).cast("long").alias(
                "n_shared_grams"
            ),
        )
        .select(
            "doc_id",
            "n_grams",
            "n_shared_grams",
            F.round(
                F.col("n_shared_grams") / F.col("n_grams").cast("double"), 4
            ).alias("shared_frac"),
        )
    )


def exact_substring_spans(
    df: DataFrame,
    gram_len: int = 40,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Maximal duplicated character spans per document — the CUT step
    of ExactSubstr dedup (Lee et al. 2021 remove every substring of
    length ≥ gram_len that occurs more than once in the corpus; their
    single-node tool builds a suffix array, this is the distributed
    re-expression). `exact_substring_dedup` SCORES documents; this
    returns the actual [start, end] char ranges a rewrite would drop.

    Construction: every length-``gram_len`` stride-1 window whose hash
    occurs ≥2 times ANYWHERE in the corpus (cross-doc or a within-doc
    repeat, exactly the suffix-array criterion) marks the interval
    [p, p+gram_len-1] as duplicated; overlapping/adjacent marked
    intervals merge into maximal spans by gaps-and-islands — all
    intervals have equal length, so a new island starts exactly when
    p − lag(p) > gram_len, and the island id is a running sum of
    those breaks over a PER-DOCUMENT window (doc-grain parallelism,
    no global sort).

    Plan: O(total chars) window rows (no per-doc distinct — positions
    matter), one gram-keyed count to build the duplicated-hash index
    (carries counts, never doc lists), one hash-keyed semi join back,
    one doc-keyed window + aggregate. Output: (doc_id, span_start,
    span_end, span_len) per maximal span, 1-indexed inclusive."""
    from pyspark.sql import Window

    t = F.col("t")
    n_wins = F.greatest(F.length(t) - gram_len + 1, F.lit(0))
    wins = (
        fan_out(df, key=id_col)
        .select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("t"))
        .filter(F.length(t) >= gram_len)
        .select(
            "doc_id",
            F.explode(F.sequence(F.lit(1), n_wins)).alias("p"),
            t.alias("t"),
        )
        .select(
            "doc_id",
            "p",
            xhash(F.col("t").substr(F.col("p"), F.lit(gram_len))).alias("h"),
        )
        # lineage-cut once (r12): the duplicated-hash index broadcasts
        # into the semi join, so the stream branch shares no exchange
        # with the index branch and the O(chars) md5 window pass ran
        # once per branch; materialized (doc_id, p, h — ids and
        # hashes, never text), it runs once. Interleaved A/B at sf0.1:
        # 1.5-1.7 s → 1.0-1.2 s warm, identical rows.
        .localCheckpoint(eager=False)
    )
    dup = (
        wins.groupBy("h")
        .agg(F.count(F.lit(1)).alias("n_occ"))
        .filter(F.col("n_occ") >= 2)
        .select("h")
    )
    marked = wins.join(dup, "h", "left_semi").select("doc_id", "p")
    w = Window.partitionBy("doc_id").orderBy("p")
    islands = marked.withColumn(
        "brk",
        F.when(F.col("p") - F.lag("p").over(w) > gram_len, 1).otherwise(0),
    ).withColumn(
        "island",
        F.sum("brk").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return (
        islands.groupBy("doc_id", "island")
        .agg(
            F.min("p").cast("long").alias("span_start"),
            (F.max("p") + gram_len - 1).cast("long").alias("span_end"),
        )
        .select(
            "doc_id",
            "span_start",
            "span_end",
            (F.col("span_end") - F.col("span_start") + 1).alias("span_len"),
        )
    )


def exact_substring_rewrite(
    df: DataFrame,
    gram_len: int = 40,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Apply the ExactSubstr cut (Lee et al. 2021): re-emit every
    document with its `exact_substring_spans` ranges REMOVED — the
    rewrite a training-data pipeline ships, where the spans query is
    the audit view. (This removes every occurrence of a duplicated
    run; keep-one-canonical-copy is a policy layered on top via the
    span table, not a different mechanism.)

    The cut itself is a per-row JVM fold (F.aggregate) over the doc's
    sorted span array: the accumulator carries (cursor, kept-so-far),
    each span appends the clean segment before it and advances the
    cursor past it, and the finisher appends the tail — no Python,
    no explode of the text. Maximal spans are non-adjacent by
    construction (islands merge any gap ≤ gram_len), so kept
    segments are well-defined; docs with no spans pass through
    verbatim via the left join's empty array.

    Plan: `exact_substring_spans` (O(chars) window frame) → per-doc
    span-array collect (span-mass-sized) → ONE broadcast-able left
    join back to the docs scan → codegen'd fold. Output: (doc_id,
    n_spans_cut, chars_cut, new_len, new_text)."""
    spans = exact_substring_spans(df, gram_len, text_col, id_col)
    per_doc = spans.groupBy("doc_id").agg(
        F.sort_array(
            F.collect_list(F.struct("span_start", "span_end"))
        ).alias("spans"),
        F.count(F.lit(1)).cast("long").alias("n_spans_cut"),
        F.sum("span_len").cast("long").alias("chars_cut"),
    )
    t = F.col(text_col)
    folded = F.aggregate(
        F.coalesce(F.col("spans"), F.array()),
        F.struct(F.lit(1).cast("long").alias("cur"), F.lit("").alias("acc")),
        lambda a, s: F.struct(
            (s["span_end"] + 1).cast("long").alias("cur"),
            F.concat(
                a["acc"], t.substr(a["cur"], s["span_start"] - a["cur"])
            ).alias("acc"),
        ),
        lambda a: F.concat(
            a["acc"], t.substr(a["cur"], F.length(t) - a["cur"] + 1)
        ),
    )
    return (
        df.select(F.col(id_col).alias("doc_id"), t.alias(text_col))
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("n_spans_cut"), F.lit(0)).alias("n_spans_cut"),
            F.coalesce(F.col("chars_cut"), F.lit(0)).alias("chars_cut"),
            folded.alias("new_text"),
        )
        .withColumn("new_len", F.length("new_text").cast("long"))
        .select("doc_id", "n_spans_cut", "chars_cut", "new_len", "new_text")
    )


def suffix_lcp_repeats(
    df: DataFrame,
    cap: int = 32,
    block_chars: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document maximal-repeat profile from a truncated generalized
    suffix array — the fine-grained complement to `exact_substring_*`
    (reference parity: the reference has no text ops at all; this is
    the Lee et al. 2021 suffix-array criterion the 40-gram window-hash
    family approximates, here EXACT for repeat lengths in
    [block_chars, cap)). The 40-gram lane cannot see a 12-char
    template fragment repeated across the corpus; this operator
    reports, for every suffix position, the length of the longest
    substring starting there that also occurs elsewhere (any doc, or
    another position of the same doc), exactly when that length is in
    [block_chars, cap), clamped to cap above.

    Mechanism — suffix-array neighbor-LCP without building the full
    array: sort suffixes (truncated to ``cap`` chars) and take each
    suffix's longest common prefix with its immediate sorted
    neighbors; in suffix-sorted order the max-LCP partner of any
    suffix is always adjacent. The sort is NOT global — suffixes
    hash-partition by their first ``block_chars`` chars and sort
    within the block (the same blocked trade as `snm_pairs`): every
    pair with LCP ≥ block_chars shares the block by construction, so
    block-local neighbors are exact for all reported lengths; LCPs
    below block_chars would straddle blocks and are clamped to 0.
    The LCP itself is a codegen'd first-mismatching-character scan
    over ``sequence(1, cap)`` — no Python anywhere — computed ONCE
    per row against the lag neighbor; the lead-side LCP is recovered
    with the standard suffix-array identity rep[i] = max(lcp[i],
    lcp[i+1]) via a ``lead`` over the already-computed column (same
    window spec, so the second pass reuses the exchange AND the
    sort).

    Scale shape: O(total chars) rows, each carrying a ≤cap-char key —
    linear fan-out like `exact_substring_spans`, one keyed exchange +
    in-partition sort + two chained window projections + a doc-keyed
    aggregate; no join until the final broadcast-able left join that
    restores repeat-free docs. Rows are sorted by ``sfx`` alone —
    tied suffixes are byte-identical, so every tie-group member's
    neighbor LCP is the full (clamped) suffix length whatever the tie
    order, and the result stays deterministic without carrying a
    position tiebreak through the shuffle. Skew = block-prefix
    concentration (natural text spreads over |alphabet|^block_chars
    blocks; lengthen ``block_chars`` for template-heavy corpora — the
    exactness floor rises with it).

    Output: (doc_id, max_repeat_len, n_repeat_pos) — the doc's longest
    repeated run (0 if < block_chars, cap if ≥ cap) and how many of
    its suffix positions sit on a ≥block_chars repeat."""
    from pyspark.sql import Window

    t = F.col("t")
    sfx = F.col("sfx")

    def lcp_with(other: F.Column) -> F.Column:
        # Linear-size expression — a binary-search when-tree over a
        # dynamic cursor re-nests the cursor expression per probe and
        # blows codegen up exponentially (measured 4x SLOWER than a
        # scan). r12 form: split each side to a char array ONCE and
        # zip_with-compare, instead of 2·cap substr(i, 1) probes per
        # row (each probe re-seeks the string; measured 3.0 s → 1.85 s
        # on the sf0.1 window stage, identical output). zip_with pads
        # the shorter side with NULL; NULL ≠ char yields NULL, which
        # array_position skips, so the min-length fallback below
        # handles prefix-of-the-other ties exactly as before.
        mism = F.zip_with(
            F.split(sfx, ""), F.split(other, ""), lambda a, b: a != b
        )
        first_bad = F.array_position(mism, True)
        full = F.least(F.length(sfx), F.length(other))
        return F.when(other.isNull(), F.lit(0)).otherwise(
            F.when(first_bad > 0, first_bad - 1).otherwise(full)
        )

    pos = (
        fan_out(df, key=id_col)
        .select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("t"))
        .filter(F.length(t) >= block_chars)
        .select(
            "doc_id",
            F.explode(
                F.sequence(F.lit(1), F.length(t) - block_chars + 1)
            ).alias("p"),
            t.alias("t"),
        )
        .select(
            "doc_id",
            t.substr(F.col("p"), F.lit(cap)).alias("sfx"),
            t.substr(F.col("p"), F.lit(block_chars)).alias("blk"),
        )
    )
    w = Window.partitionBy("blk").orderBy("sfx")
    rep = F.greatest(
        F.col("lcp"), F.coalesce(F.lead("lcp").over(w), F.lit(0))
    )
    per_doc = (
        pos.select("doc_id", "sfx", "blk", lcp_with(F.lag("sfx").over(w)).alias("lcp"))
        .select(
            "doc_id",
            F.when(rep >= block_chars, rep).otherwise(F.lit(0)).alias("rep"),
        )
        .groupBy("doc_id")
        .agg(
            F.max("rep").cast("long").alias("max_repeat_len"),
            F.count(F.when(F.col("rep") >= block_chars, 1))
            .cast("long")
            .alias("n_repeat_pos"),
        )
    )
    return (
        df.select(F.col(id_col).alias("doc_id"))
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("max_repeat_len", F.lit(0)).alias("max_repeat_len"),
            F.coalesce("n_repeat_pos", F.lit(0)).alias("n_repeat_pos"),
        )
    )


def ngram_jaccard_pairs_capped(
    df: DataFrame,
    n: int = 3,
    threshold: float = 0.8,
    max_df: int = 64,
    text_col: str = "text",
) -> DataFrame:
    """Exact-Jaccard near-dup pairs with df-capped candidate
    generation — the production escape hatch for vocabulary-saturated
    corpora where exact PPJoin's prefix filter loses its lever (no
    rare shingles left; see BASELINE.md's 100x boundary note:
    candidate mass Σdf² grew ×8 950 on ×100 data there, while this
    cap holds it ~flat by construction).

    Semantics: the JACCARD SCORE is exact (full distinct-shingle
    sets), but a pair is DISCOVERABLE only if it shares ≥ 1 shingle
    with document frequency in [2, max_df] — the same recall contract
    as `containment_pairs`/`minhash` banding caps. Pairs all of whose
    shared shingles are hotter than max_df are missed; on natural
    text those are boilerplate-only overlaps (the pairs a dedup
    pipeline deliberately ignores), and the cap is the knob.

    Scale shape: per-bucket work ≤ max_df² BY CONSTRUCTION whatever
    the corpus size — eligibility is decided on a count-only
    aggregation BEFORE any doc array materializes
    (`buckets.bounded_id_buckets`), so a df≈10⁹ boilerplate shingle
    costs one counter row, never a corpus-sized aggregation row on
    one reducer. Candidate mass is Σ_{df≤max_df} df² ≤
    max_df · (capped instances) — flat on the saturated 100× lane
    where the uncapped exact operator runs > 40 min. Verification
    joins the (tiny) candidate pair set back to the full shingle
    arrays — exact, output-bound.

    r12 optimization (guide §1.2 step 1 — don't compute things you
    throw away): pair emission now applies PPJoin's LENGTH FILTER
    inside the bucket lambda — J(A,B) ≥ t forces t'·|A| ≤ |B| ≤ |A|/t'
    (t' = t − 0.5e-4, the exact rational the 4-decimal-rounded final
    filter admits; integer cross-multiplication, no doubles) — so a
    candidate that cannot clear the threshold never materializes as a
    row. RESULT-PRESERVING by the same theorem `ngram_jaccard_pairs`
    already relies on: J ≤ min(|A|,|B|)/max(|A|,|B|) < t' for every
    pruned pair. Each doc's set size rides INSIDE the bucket structs
    (the `containment_pairs` trick) so no corpus-sized (doc, n_sh)
    table ever joins back. Measured at sf0.1: candidate emissions
    1.27M → 469k, distinct candidates 1.13M → 402k, query 9.9 s →
    ~4.5 s together with the `exact_jaccard` verify."""
    from fractions import Fraction

    tp = Fraction(round(threshold * 10**4), 10**4) - Fraction(1, 2 * 10**4)
    tn, td = tp.numerator, tp.denominator  # t' = tn/td

    sh = shingle_sets(df, n, text_col).localCheckpoint(eager=False)
    ex = (
        sh.select(
            "doc_id",
            F.size("shingles").alias("n_sh"),
            F.explode_outer("shingles").alias("g"),
        )
        .filter(F.col("g").isNotNull())
    )
    # df-eligibility decided COUNT-FIRST as before (the
    # bounded_id_buckets discipline, inlined here because the bucket
    # structs must carry n_sh for the length filter): a boilerplate
    # shingle drops while it is still one counter row.
    counts = ex.groupBy("g").agg(F.count(F.lit(1)).alias("_df"))
    eligible = counts.filter((F.col("_df") >= 2) & (F.col("_df") <= max_df))
    buckets = (
        ex.join(eligible.select("g"), "g")
        .groupBy("g")
        .agg(F.sort_array(F.collect_list(F.struct("doc_id", "n_sh"))).alias("ds"))
    )
    # r13 (guide §1.2 step 2): upper-triangle emission — the inner
    # transform runs over slice(ds, i+2, …), so only the b·(b−1)/2
    # ordered structs are built (ds is sorted with unique doc_id, so
    # j > i ⟺ doc_b > doc_a); the former full-b² form built every
    # struct and filtered a < b afterwards. The PPJoin length filter
    # stays inside the lambda — exact integer cross-multiplication.
    pairs = buckets.select(
        F.explode(
            F.flatten(
                F.transform(
                    "ds",
                    lambda x, i: F.filter(
                        F.transform(
                            F.slice(F.col("ds"), i + F.lit(2), F.size("ds")),
                            lambda y: F.struct(
                                x["doc_id"].alias("doc_a"),
                                x["n_sh"].alias("na"),
                                y["doc_id"].alias("doc_b"),
                                y["n_sh"].alias("nb"),
                            ),
                        ),
                        # length filter t'·|A| ≤ |B| ≤ |A|/t' by exact
                        # integer cross-multiplication (no doubles)
                        lambda p: (p["nb"].cast("long") * td >= F.lit(tn) * p["na"].cast("long"))
                        & (p["na"].cast("long") * td >= F.lit(tn) * p["nb"].cast("long")),
                    ),
                )
            )
        ).alias("p")
    ).select("p.doc_a", "p.doc_b")
    cand = (
        pairs.groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("_n"))
        .select("doc_a", "doc_b")
    )
    # df-capped candidate mass (max_df per shingle bucket): fused
    # AQE-planned verify join, same rationale as minhash_lsh_dedup.
    # Verify arrays ride hashed (r13, _hash_shingles — Jaccard is
    # hash-invariant; collision caveat in QUERIES.md).
    shh = _hash_shingles(sh)
    return (
        cand.join(shh.select(F.col("doc_id").alias("doc_a"), F.col("shingles").alias("sh_a")), "doc_a")
        .join(shh.select(F.col("doc_id").alias("doc_b"), F.col("shingles").alias("sh_b")), "doc_b")
        .withColumn("jaccard", exact_jaccard("sh_a", "sh_b"))
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )
