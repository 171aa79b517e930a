"""Deduplication operators (SURVEY §2B-K, north_star "dedup").

Four tiers, in increasing recall-per-cost:

1. exact row / keyed dedup       — hash groupBy (queries/aggregates.py)
2. content-hash dedup            — md5/sha256 fingerprint equality
3. MinHash-LSH near-dup          — banding join, subquadratic
4. SimHash near-dup              — 64-bit signature, pigeonhole-banded
   hamming join
plus an exact n-gram-Jaccard all-pairs verifier used as ground truth.

Everything is seeded-hash deterministic (xxhash64, no RNG): the same
corpus gives the same pairs on any cluster size — required for the
oracle and for reproducible data lineage at 100 TB.

Scale shape: candidate generation is a shuffle on short band keys
(8 rows/doc for MinHash, 4 for SimHash), never an all-pairs product;
only the candidate pairs (tiny vs n^2) fetch shingle sets for exact
verification.  Pathological bands (a boilerplate text shared by a
large doc fraction -> one hot band key) are absorbed by AQE's
skew-join split: MEASURED in tests/test_plans.py
test_lsh_band_join_skew_split_active_and_exact — 20% planted
boilerplate, executed plan shows SortMergeJoin(skew=true), pair set
bit-identical to the unsplit run (thresholds scaled to the test
corpus; at 100 TB the 256 MB defaults trip on the same shape).
"""

from __future__ import annotations

import weakref

from py4j.protocol import Py4JError
from pyspark.errors import PySparkException
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .text import shingles, tokens

# 16 minhash permutations, banded 8 x 2: detection probability
# 1-(1-j^2)^8 — ~0.65 at j=0.35, ~0.97 at j=0.6, ~1 at j>=0.8.
N_HASHES = 16
N_BANDS = 8
ROWS_PER_BAND = N_HASHES // N_BANDS

# Sentinel accumulator for the single-pass signature fold; docs with an
# empty shingle set keep it and are excluded from banding (they can
# never verify at jaccard >= tau anyway — 0/0 is NULL).
_LONG_MAX = (1 << 63) - 1


# Module-level memo of CONSTANT Column expression trees (r16, guide
# §1.2 step 2 — driver-side per-task... per-QUERY work): building the
# 16-hash signature fold / 8-band key trees is pure Py4J traffic,
# measured 0.4-1.1 s PER CONSTRUCTION on the bench box and paid at
# every call site every run (q_dedup_fuzzy builds the signature tree
# twice per run: plan probe + pipeline).  The memoized values are
# UNRESOLVED Column plan fragments over fixed column names — pure
# functions of engine constants, reusable across frames and queries,
# carrying no data and no results (a memo of RESULT rows would be the
# banned precomputation pattern; a Column is the same class of object
# as a compiled regex).  Keyed weakly on the live SparkContext OBJECT,
# so a context restart (fresh JVM gateway) rebuilds instead of
# dereferencing stale JVM handles — an ``id()`` key could be recycled
# by the new context at the old one's address — and a dead context's
# Columns go with it.
_COL_MEMO: "weakref.WeakKeyDictionary" = weakref.WeakKeyDictionary()


def _memo_col(key: tuple, build):
    from pyspark import SparkContext

    sc = SparkContext._active_spark_context
    if sc is None:
        return build()  # nothing to bind to: no memo
    memo = _COL_MEMO.setdefault(sc, {})
    col = memo.get(key)
    if col is None:
        col = memo[key] = build()
    return col


# NOTES on expression shape (both measured ~10-25x at 5k docs):
#
# 1. Token arrays are ALWAYS projected as a real column before
#    shingling: element_at(tokens(text), i) inside a higher-order
#    lambda re-evaluates the full tokenize subtree per index (Catalyst
#    does not CSE through lambda scopes).
# 2. NEVER post-filter on an expensive computed column
#    (.filter(size(sh) > 0)): predicate pushdown clones the whole
#    expression into an interpreted Filter and evaluates it a second
#    time per row.  Pre-filter on cheap raw-text predicates instead;
#    docs shorter than n tokens yield empty shingle sets that the
#    jaccard >= tau condition (NULL for 0/0) filters out naturally.


def _parse_bytes(v: str) -> int:
    """Spark size-string ('134217728', '128m', '1g') -> bytes."""
    v = v.strip().lower()
    for suf, mul in (("k", 1 << 10), ("m", 1 << 20), ("g", 1 << 30)):
        if v.endswith(suf + "b"):
            v = v[:-1]
        if v.endswith(suf):
            return int(float(v[:-1]) * mul)
    if v.endswith("b"):
        v = v[:-1]
    return int(v)


def _parallel(docs: DataFrame) -> DataFrame:
    """Single-file inputs arrive as one partition; fan out before
    per-row-expensive work.  No-op when the source is already split
    (the 100 TB case — there the extra shuffle would be harmful).

    The probe is driver METADATA, not planning (r16, guide §1.2 step
    2): ``.rdd.getNumPartitions()`` builds a full QueryExecution plus
    a Python RDD conversion per FRESH frame — measured 0.3-1.3 s per
    construction site on the bench box, paid twice per LSH query run
    (probe + pipeline).  Scan parallelism is estimated instead from
    ``inputFiles()`` + file sizes vs ``maxPartitionBytes`` (~40 ms).
    The estimate matches the old probe on every layout that matters:
    many files -> no-op either way; one small file -> fan out either
    way.  It diverges only on shapes that cannot occur at scale (a
    shuffle-derived frame whose scan is a single small file may now
    fan out where a sort-merge plan already had shuffle partitions —
    an extra small exchange at toy scale, values identical).  Any
    surprise (empty/remote file list, unreadable sizes) falls back to
    the exact RDD probe."""
    target = docs.sparkSession.sparkContext.defaultParallelism
    floor = max(2, target // 2)
    try:
        files = docs.inputFiles()
        if len(files) >= floor:
            return docs
        if files:
            import os as _os

            from .. import txlog

            mpb = _parse_bytes(
                docs.sparkSession.conf.get(
                    "spark.sql.files.maxPartitionBytes",
                    str(128 * 1024 * 1024),
                )
            )
            total = sum(
                _os.path.getsize(txlog.manifest_path(f)) for f in files
            )
            if max(len(files), -(-total // mpb)) >= floor:
                return docs
            return docs.repartition(target)
    except (OSError, ValueError, Py4JError, PySparkException):
        pass  # a remote or opaque file list, unreadable sizes
    # no file list (a format("txtable") or in-memory frame) or an
    # unreadable one: the exact probe
    if docs.rdd.getNumPartitions() < floor:
        return docs.repartition(target)
    return docs


def _with_shingles(docs: DataFrame, n: int = 3) -> DataFrame:
    toked = _parallel(
        docs.filter(F.length(F.trim(F.col("text"))) > 0)
    ).select("doc_id", tokens(F.col("text")).alias("toks"))
    sh = _memo_col(("str_sh", n), lambda: shingles(F.col("toks"), n))
    return toked.select("doc_id", sh.alias("sh"))


def _hashed_shingles_col(n: int):
    toks = F.col("toks")
    idx = F.sequence(F.lit(0), F.size(toks) - n)
    gram = lambda i: F.xxhash64(  # noqa: E731
        *[F.element_at(toks, i + k + 1) for k in range(n)]
    )
    return F.when(
        F.size(toks) >= n, F.array_distinct(F.transform(idx, gram))
    ).otherwise(F.array().cast("array<bigint>"))


def _with_hashed_shingles(docs: DataFrame, n: int = 3) -> DataFrame:
    """Shingle sets as xxhash64 longs: array_distinct/array_intersect
    over fixed-width longs instead of strings (string set ops are
    quadratic in shingle count with full string compares).  Collision
    probability at 64 bits is negligible for any realistic corpus."""
    toked = _parallel(
        docs.filter(F.length(F.trim(F.col("text"))) > 0)
    ).select("doc_id", tokens(F.col("text")).alias("toks"))
    sh = _memo_col(("hashed_sh", n), lambda: _hashed_shingles_col(n))
    return toked.select("doc_id", sh.alias("sh"))


def decontaminate_bloom(
    train: DataFrame,
    eval_docs: DataFrame,
    n: int = 3,
    m_bits: int = 1 << 20,
    k: int = 3,
    pins: list | None = None,
) -> DataFrame:
    """``decontaminate`` for when the eval gram set is too large to
    broadcast exactly (a 100M-gram eval suite is GBs as a broadcast
    set; the Bloom bitmap is 128 KB at the default m_bits): the
    exploded train grams are pruned AT THE SCAN by a Bloom filter
    shipped as a plan literal (joins.bloom_build/bloom_prune — no
    false negatives, so nothing contaminated is lost), and only the
    surviving sliver (true hits + the FP fraction) reaches the exact
    verify join.  The train side still never shuffles in full; the
    exact join's input shrinks from every-train-gram to
    contaminated-instances + FPs.  Output is IDENTICAL to
    ``decontaminate`` — the exact semi-join removes Bloom false
    positives (pinned in tests)."""
    from .joins import bloom_build, bloom_prune

    ev_grams = (
        _with_shingles(eval_docs, n)
        .select(F.explode("sh").alias("g"))
        .distinct()
        .persist()
    )
    ev_grams.count()  # reused: bloom build + exact verify join
    tr_sh = _with_shingles(train, n).persist()
    tr_sh.count()
    if pins is not None:
        pins.extend([ev_grams, tr_sh])
    words = bloom_build(ev_grams, "g", m_bits, k)
    ex = tr_sh.select(
        "doc_id", F.size("sh").alias("n_grams"), F.explode("sh").alias("g")
    )
    survivors = bloom_prune(ex, "g", words, m_bits, k)
    out = (
        survivors.join(ev_grams, "g", "left_semi")
        .groupBy("doc_id", "n_grams")
        .agg(F.count(F.lit(1)).alias("n_contaminated"))
        .select(
            "doc_id",
            "n_grams",
            "n_contaminated",
            F.round(F.col("n_contaminated") / F.col("n_grams"), 6).alias(
                "contamination"
            ),
        )
    )
    if pins is not None:
        return out  # caller owns the cache lifetime
    from . import checkpoint_release

    return checkpoint_release(out, [ev_grams, tr_sh])


def minhash_signatures(docs: DataFrame, n: int = 3) -> DataFrame:
    """doc_id -> array<long> of N_HASHES min-hashes over hashed word
    n-gram shingles.  hash family = xxhash64(shingle_hash, seed),
    seed = 0..N_HASHES-1.

    Single-pass fold: one ``aggregate`` over the shingle array keeps a
    16-wide running-min accumulator (``zip_with(least)``), instead of
    16 separate transform+array_min traversals.  Besides being one
    pass, the closed-form seed loop avoids the PySpark 2-param-lambda
    trap (a ``lambda x, s=s`` passed to ``transform`` receives
    (element, ARRAY INDEX) — the captured default is silently shadowed
    by the index argument, which once made all 16 "seeds" the element
    position and every band key identical).

    Empty shingle sets keep the _LONG_MAX sentinel in every slot;
    callers must exclude them from banding (see minhash_lsh_pairs).
    """
    sh = _with_hashed_shingles(docs, n)
    sig = _memo_col(
        ("minhash_sig",),
        lambda: F.aggregate(
            F.col("sh"),
            F.array_repeat(F.lit(_LONG_MAX), N_HASHES),
            lambda acc, x: F.zip_with(
                acc,
                F.array(
                    *[F.xxhash64(x, F.lit(s)) for s in range(N_HASHES)]
                ),
                lambda a, b: F.least(a, b),
            ),
        ),
    )
    return sh.select("doc_id", F.col("sh").alias("shingles"), sig.alias("sig"))


def minhash_lsh_pairs(
    docs: DataFrame, threshold: float = 0.5, n: int = 3
) -> DataFrame:
    """Near-duplicate pairs by MinHash-LSH banding with exact-Jaccard
    verification: (doc_id_a < doc_id_b, jaccard >= threshold).

    Pipeline: shingle+signature (ONE materialized pass — the self-join
    and the verify join both branch off it, and without persistence
    Spark would recompute the whole tokenize/hash pipeline once per
    branch, 4x the work) -> collapse identical shingle SETS to one
    representative -> explode 8 band keys -> self-join on band key ->
    distinct candidates -> verify on exact shingle Jaccard -> expand
    group members back into pairs.  At 100 TB this materialization is
    the standard signatures-checkpoint; it is ~1% the size of the
    corpus.
    """
    from . import checkpoint_release

    base = minhash_signatures(docs, n).persist()
    base.count()  # eager: both join branches must hit the cache, not
    # race to recompute the signature pipeline in parallel
    pins: list[DataFrame] = [base]
    out = _lsh_pairs_from_base(base, threshold, pins=pins)
    return checkpoint_release(out, pins)


def _collapse_groups(
    base: DataFrame, pins: list | None = None
) -> tuple[DataFrame, DataFrame]:
    """Collapse docs with IDENTICAL shingle sets into one group
    (VERDICT r11 #2 — hot-bucket protection): a boilerplate-heavy
    corpus (10^6 verbatim copies of one page, the normal web-scale
    case) otherwise puts 10^6 docs in one band bucket and the band
    self-join emits ~10^12 candidate pairs BEFORE verification.  One
    row per distinct set enters banding, so the candidate stage is
    O(distinct^2-per-bucket) no matter how hot the corpus; the
    (inherently quadratic) member pairs are re-expanded only in the
    final output projection.

    Group key = the sorted shingle array itself, NOT its hash: group
    membership implies emitted pairs WITHOUT per-pair verification, so
    a key collision here (unlike in the band join, whose candidates
    are exactly verified) would emit a wrong pair.  Array equality is
    exact.  The shuffle ships shingle arrays once — the same bytes the
    verify join moved anyway, and on duplicate-heavy corpora the
    verify side now carries only DISTINCT sets.

    Returns (reps, members): reps = one row per distinct non-empty
    set (doc_id = min member, sh = sorted set, sig); members =
    (doc_id, rep_id) for expansion.  The persisted assignment frame is
    appended to ``pins`` (it feeds reps twice via the band self-join
    plus members twice via the expansion joins).
    """
    from pyspark.sql import Window

    keyed = base.filter(F.size("shingles") > 0).select(
        "doc_id", F.array_sort("shingles").alias("gk"), "sig"
    )
    # window key = (hash, array): grouping is EXACT (the array rides
    # the key), but the window sort compares the 8-byte hash first and
    # touches the array only on hash ties — i.e. on true duplicates,
    # which need the full compare anyway.  Sorting by the raw array
    # alone costs O(|shingles|) comparisons per row pair.
    assigned = (
        keyed.withColumn("gkh", F.xxhash64("gk"))
        .select(
            "doc_id",
            F.min("doc_id")
            .over(Window.partitionBy("gkh", "gk"))
            .alias("rep_id"),
            "gk",
            "sig",
        )
        .persist()
    )
    assigned.count()  # self-joined downstream — must hit the cache
    if pins is not None:
        pins.append(assigned)
    reps = assigned.filter(F.col("doc_id") == F.col("rep_id")).select(
        "doc_id", F.col("gk").alias("sh"), "sig"
    )
    members = assigned.select("doc_id", "rep_id")
    return reps, members


def _band_candidates(reps: DataFrame) -> DataFrame:
    """Banding self-join over group representatives -> distinct
    candidate pairs (doc_id_a < doc_id_b), NOT yet verified."""
    # Band id is folded INTO the 64-bit key (xxhash64(..., band)), so
    # the self-join needs a single join column; a cross-band key
    # collision is ~2^-64 and harmless anyway — candidates are exactly
    # verified downstream.
    band_key = _memo_col(
        ("band_key",),
        lambda: F.explode(
            F.array(
                *[
                    F.xxhash64(
                        *[
                            F.col("sig")[b * ROWS_PER_BAND + r]
                            for r in range(ROWS_PER_BAND)
                        ],
                        F.lit(b),
                    )
                    for b in range(N_BANDS)
                ]
            )
        ),
    )
    bands = reps.select("doc_id", band_key.alias("key"))
    a, b = bands.alias("a"), bands.alias("b")
    return (
        a.join(
            b,
            (F.col("a.key") == F.col("b.key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_id_a"),
            F.col("b.doc_id").alias("doc_id_b"),
        )
        .distinct()
    )


def _expand_member_pairs(
    rep_pairs: DataFrame, members: DataFrame
) -> DataFrame:
    """Rep-level verified pairs -> member pairs.  Cross-group: every
    member of rep_a x every member of rep_b, jaccard inherited from
    the verified rep pair (identical sets; member ids can interleave
    across groups -> least/greatest).  Within-group: identical sets,
    jaccard exactly 1.0 — matching what a per-doc verify join computes
    for them.  Output-sized by necessity (the members of a clone group
    ARE pairwise near-dups); singleton groups self-join to nothing."""
    rp = rep_pairs.select(
        F.col("doc_id_a").alias("rep_a"),
        F.col("doc_id_b").alias("rep_b"),
        "jaccard",
    )
    ma = members.select(
        F.col("rep_id").alias("rep_a"), F.col("doc_id").alias("da")
    )
    mb = members.select(
        F.col("rep_id").alias("rep_b"), F.col("doc_id").alias("db")
    )
    cross = (
        rp.join(ma, "rep_a")
        .join(mb, "rep_b")
        .select(
            F.least("da", "db").alias("doc_id_a"),
            F.greatest("da", "db").alias("doc_id_b"),
            "jaccard",
        )
    )
    x, y = members.alias("x"), members.alias("y")
    within = x.join(
        y,
        (F.col("x.rep_id") == F.col("y.rep_id"))
        & (F.col("x.doc_id") < F.col("y.doc_id")),
    ).select(
        F.col("x.doc_id").alias("doc_id_a"),
        F.col("y.doc_id").alias("doc_id_b"),
        F.lit(1.0).alias("jaccard"),
    )
    return cross.unionByName(within)


def _lsh_pairs_from_reps(
    reps: DataFrame, members: DataFrame, threshold: float
) -> DataFrame:
    """Banding + exact verification at REP granularity, member pairs
    re-expanded in the output projection."""
    candidates = _band_candidates(reps)
    rep_pairs = verify_jaccard(
        candidates, reps.select("doc_id", "sh"), threshold
    )
    return _expand_member_pairs(rep_pairs, members)


def _lsh_pairs_from_base(
    base: DataFrame, threshold: float, pins: list | None = None
) -> DataFrame:
    """Band join + exact verification from an already-PERSISTED
    signatures frame (doc_id, shingles, sig), with identical-set
    groups collapsed before banding (see _collapse_groups) and
    re-expanded after verification.

    Pair semantics are EXACTLY the pre-collapse ones: members of a
    group share one shingle set, so (a) their signatures — a pure
    function of the set — and hence band keys are identical: rep-level
    band collisions reproduce member-level ones precisely; (b) every
    within-group pair was always a candidate (all 8 band keys equal)
    verifying at jaccard 1.0 >= any threshold; (c) a cross-group
    member pair's jaccard equals its reps' jaccard (same two sets).
    Empty-shingle docs (sentinel signature) are excluded up front:
    banding them would pair every short doc with every other.
    """
    own_pins = pins if pins is not None else []
    reps, members = _collapse_groups(base, pins=own_pins)
    out = _lsh_pairs_from_reps(reps, members, threshold)
    if pins is None:
        from . import checkpoint_release

        return checkpoint_release(out, own_pins)
    return out


def lsh_pairs_with_exact(
    docs: DataFrame,
    threshold: float = 0.5,
    n: int = 3,
    family: str = "banded",
    pins: list | None = None,
) -> tuple[DataFrame, DataFrame]:
    """(exact gram-join pairs, LSH pairs) at the same threshold from
    ONE tokenize/shingle pass: the signatures frame is persisted once
    and both pipelines branch off it — the shape the contract-oracle
    queries need (exact rows + LSH recall flag) without paying the
    corpus scan twice.  ``family``: "banded" (engine-default xxhash64
    banding) or "ml" (Spark ML MinHashLSH parity variant).

    The persisted frame is appended to ``pins`` (when given) so the
    caller can unpersist it once the downstream result is materialized
    (ADVICE r6: the oracle gate runs four LSH-family queries in one
    session — without release, whole-corpus shingle caches accumulate
    for the rest of the run)."""
    if family == "ml":
        sh = _with_shingles(docs, n).persist()
        sh.count()
        if pins is not None:
            pins.append(sh)
        return _exact_pairs_from_sh(sh, threshold), minhash_lsh_pairs_ml(
            docs, threshold, n, sh=sh
        )
    base = minhash_signatures(docs, n).persist()
    base.count()
    if pins is not None:
        pins.append(base)
    # The exact side stays PER-DOC on purpose: (a) implementation
    # diversity — the contract's ground truth should not share the
    # collapse machinery it checks; (b) measured at sf0.1, running the
    # exact gram join rep-level + re-expansion costs MORE in stage
    # overhead (+0.7 s, 3 extra small joins) than the halved explode
    # saves — the small-scale inversion of a big-scale win, and the
    # bench grades at sf0.1.  At 100 TB the exact tier is oracle-only
    # anyway (PLANS.md fences all-pairs shapes to ground truth).
    sh = base.select("doc_id", F.col("shingles").alias("sh"))
    return _exact_pairs_from_sh(sh, threshold), _lsh_pairs_from_base(
        base, threshold, pins=pins
    )


def verify_jaccard(
    pairs: DataFrame, doc_shingles: DataFrame, threshold: float
) -> DataFrame:
    """Exact shingle-set Jaccard for candidate pairs; keeps pairs at or
    above threshold.  Only candidates (not n^2) pay this cost."""
    sa = doc_shingles.select(
        F.col("doc_id").alias("doc_id_a"), F.col("sh").alias("sh_a")
    )
    sb = doc_shingles.select(
        F.col("doc_id").alias("doc_id_b"), F.col("sh").alias("sh_b")
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size("sh_a") + F.size("sh_b") - inter
    jac = F.when(union > 0, inter.cast("double") / union)  # empty sets -> NULL
    return (
        pairs.join(sa, "doc_id_a")
        .join(sb, "doc_id_b")
        .select("doc_id_a", "doc_id_b", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def ngram_jaccard_pairs(
    docs: DataFrame,
    threshold: float = 0.35,
    n: int = 3,
    pins: list | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard >= threshold, output-sensitive: explode
    shingles -> equi-join on shingle -> count shared per pair ->
    jaccard from the pre-computed set sizes.  Only pairs that SHARE at
    least one shingle are ever materialized (identical result to the
    all-pairs product, since jaccard = 0 needs no row), which turns
    the O(n^2 * |sh|) cross-join into a key join — 3-4x here, and the
    difference between possible and impossible at corpus scale.  Used
    as exact ground truth for the LSH variant."""
    sh = _with_shingles(docs, n).persist()
    sh.count()  # both branches below must reuse, not recompute
    if pins is not None:  # caller releases once downstream materialized
        pins.append(sh)
    return _exact_pairs_from_sh(sh, threshold)


def _exact_pairs_from_sh(sh: DataFrame, threshold: float) -> DataFrame:
    """Gram-join exact pairs from an already-PERSISTED (doc_id, sh)
    frame — the branch point that lets one shingle pass serve both
    the exact ground truth and the LSH pipeline."""
    sizes = sh.select("doc_id", F.size("sh").alias("n_sh"))
    exploded = sh.select("doc_id", F.explode("sh").alias("g"))
    # NOTE on a rejected optimization (r6, measured): pre-dropping
    # grams that occur in only one doc (they can join no pair) ADDS
    # ~20% here — this corpus is so repetitive that only 207 of 260k
    # gram instances at sf0.1 are corpus-unique, so the counting pass
    # buys nothing.  On natural web text (mostly unique grams) that
    # frequency prune is the standard first move — revisit if the
    # corpus profile changes.
    a, b = exploded.alias("a"), exploded.alias("b")
    shared = (
        a.join(
            b,
            (F.col("a.g") == F.col("b.g"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_id_a"),
            F.col("b.doc_id").alias("doc_id_b"),
        )
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_id_a"), F.col("n_sh").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("doc_id_b"), F.col("n_sh").alias("nb"))
    union = F.col("na") + F.col("nb") - F.col("inter")
    return (
        shared.join(sa, "doc_id_a")
        .join(sb, "doc_id_b")
        .select(
            "doc_id_a",
            "doc_id_b",
            (F.col("inter").cast("double") / union).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def decontaminate(
    train: DataFrame,
    eval_docs: DataFrame,
    n: int = 3,
    pins: list | None = None,
) -> DataFrame:
    """Eval-set contamination report: for each train doc sharing at
    least one word n-gram with ANY eval doc, the count and fraction of
    its (distinct) n-grams that appear in the eval set — the standard
    pre-training decontamination check (flag-or-drop is a filter on
    `contamination` downstream).

    Scale shape: the eval side is tiny by construction (benchmarks are
    thousands of docs even when train is 100 TB), so its distinct
    gram set is BROADCAST and the train side joins map-side — the
    100 TB side is never shuffled against eval.  The only shuffle is
    the per-doc hit count, which carries contaminated gram instances
    only (output-sensitive, with map-side partial counts); n_grams
    rides the explode as a grouping column so no second join against a
    per-doc size table is needed.
    """
    # Materialize shingle arrays BEFORE exploding them: Generate over
    # the inline shingles(tokens(text)) expression re-evaluates the
    # tokenizer per output element (measured 16x at sf0.1, the
    # trap this module's header documents); over the cached column
    # it is a plain array iteration.
    ev_sh = _with_shingles(eval_docs, n).persist()
    ev_sh.count()
    ev_grams = ev_sh.select(F.explode("sh").alias("g")).distinct()
    tr_sh = _with_shingles(train, n).persist()
    tr_sh.count()
    if pins is not None:  # caller releases once downstream materialized
        pins.extend([ev_sh, tr_sh])
    ex = tr_sh.select(
        "doc_id", F.size("sh").alias("n_grams"), F.explode("sh").alias("g")
    )
    return (
        ex.join(F.broadcast(ev_grams), "g")
        .groupBy("doc_id", "n_grams")
        .agg(F.count(F.lit(1)).alias("n_contaminated"))
        .select(
            "doc_id",
            "n_grams",
            "n_contaminated",
            F.round(F.col("n_contaminated") / F.col("n_grams"), 6).alias(
                "contamination"
            ),
        )
    )


# --- SimHash ----------------------------------------------------------------

SIMHASH_BITS = 64
N_CHUNKS = 4  # pigeonhole: hamming <= 3  =>  >=1 of 4 16-bit chunks equal
CHUNK_BITS = SIMHASH_BITS // N_CHUNKS


def simhash_signatures(docs: DataFrame) -> DataFrame:
    """64-bit SimHash over tokens: bit j is the sign of the sum of
    (+-1) votes from each token's xxhash64 bit j.  Token multiplicity
    acts as the weight.  Token hashes are projected once (see the CSE
    note above) before the 64 per-bit vote folds."""
    hashed = _parallel(
        docs.filter(F.length(F.trim(F.col("text"))) > 0)
    ).select(
        "doc_id",
        F.transform(tokens(F.col("text")), lambda t: F.xxhash64(t)).alias(
            "hashes"
        ),
    )
    def _simhash_col():
        bit_votes = lambda j: F.aggregate(  # noqa: E731
            F.col("hashes"),
            F.lit(0),
            lambda acc, h: acc
            + F.when(
                F.shiftright(h, j).bitwiseAND(F.lit(1)) == 1, 1
            ).otherwise(-1),
        )
        sig = F.lit(0).cast("long")
        for j in range(SIMHASH_BITS):
            sig = sig.bitwiseOR(
                F.when(
                    bit_votes(j) > 0, F.shiftleft(F.lit(1).cast("long"), j)
                ).otherwise(F.lit(0).cast("long"))
            )
        return sig

    # 64 per-bit vote folds: by far the heaviest constant Column tree
    # in the engine — memoized like the minhash fold above
    sig = _memo_col(("simhash_sig",), _simhash_col)
    return hashed.select("doc_id", sig.alias("simhash"))


def simhash_pairs(docs: DataFrame, max_hamming: int = 3) -> DataFrame:
    """Near-dup pairs with hamming(simhash) <= max_hamming, found via
    chunk-equality banding (any pair within hamming 3 shares at least
    one equal 16-bit chunk) then exact popcount on candidates."""
    sigs = simhash_signatures(docs)
    chunks = sigs.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("chunk_id"),
                        F.shiftright(F.col("simhash"), c * CHUNK_BITS)
                        .bitwiseAND(F.lit((1 << CHUNK_BITS) - 1))
                        .alias("chunk"),
                    )
                    for c in range(N_CHUNKS)
                ]
            )
        ).alias("ck"),
    ).select("doc_id", "simhash", "ck.chunk_id", "ck.chunk")
    a, b = chunks.alias("a"), chunks.alias("b")
    ham = F.bit_count(
        F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))
    )
    return (
        a.join(
            b,
            (F.col("a.chunk_id") == F.col("b.chunk_id"))
            & (F.col("a.chunk") == F.col("b.chunk"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_id_a"),
            F.col("b.doc_id").alias("doc_id_b"),
            ham.alias("hamming"),
        )
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )


def minhash_lsh_pairs_ml(
    docs: DataFrame,
    threshold: float = 0.5,
    n: int = 3,
    num_hash_tables: int = 8,
    seed: int = 42,
    sh: DataFrame | None = None,
) -> DataFrame:
    """Spark ML MinHashLSH formulation (SURVEY §4.3: ML first, custom
    banding only when insufficient): shingles -> HashingTF binary
    vectors -> MinHashLSH.approxSimilarityJoin.  Seeded, so runs are
    reproducible; note ML computes Jaccard on the HASHED feature space
    (HashingTF buckets can collide), so the custom xxhash64 pipeline
    (minhash_lsh_pairs) remains the engine default — this exists as
    the library-parity variant and cross-check."""
    from pyspark.ml.feature import HashingTF, MinHashLSH

    # MinHashLSH requires >=1 set bit per vector; filter once on the
    # shingle set (secondary variant — hot path is minhash_lsh_pairs).
    # A caller with an already-persisted (doc_id, sh) frame passes it
    # in so the tokenize pass isn't paid twice (lsh_pairs_with_exact).
    sh = (_with_shingles(docs, n) if sh is None else sh).filter(
        F.size("sh") > 0
    )
    tf = HashingTF(
        inputCol="sh", outputCol="features", numFeatures=1 << 18, binary=True
    )
    feats = tf.transform(sh)
    lsh = MinHashLSH(
        inputCol="features", outputCol="hashes", numHashTables=num_hash_tables,
        seed=seed,
    )
    model = lsh.fit(feats)
    joined = model.approxSimilarityJoin(
        feats, feats, 1.0 - threshold, distCol="jaccard_dist"
    )
    return (
        joined.filter(F.col("datasetA.doc_id") < F.col("datasetB.doc_id"))
        .select(
            F.col("datasetA.doc_id").alias("doc_id_a"),
            F.col("datasetB.doc_id").alias("doc_id_b"),
            (1.0 - F.col("jaccard_dist")).alias("jaccard"),
        )
    )


def content_hash_map(docs: DataFrame) -> DataFrame:
    """(doc_id, content_md5) over normalized text — the doc->exact-
    group mapping both the exact-dedup tier and the composed pipeline
    key on."""
    norm = F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " ")
    return docs.select("doc_id", F.md5(norm).alias("content_md5"))


def content_hash_dedup(docs: DataFrame) -> DataFrame:
    """Exact-content dedup via md5 of normalized text: one survivor
    (lowest doc_id) per hash — the cheapest dedup tier, always run
    first at scale."""
    norm = F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " ")
    hashed = docs.select("doc_id", "lang", F.md5(norm).alias("content_md5"))
    survivors = hashed.groupBy("content_md5").agg(
        F.min("doc_id").alias("survivor_doc_id"),
        F.count(F.lit(1)).alias("n_copies"),
    )
    return survivors


def dedup_pipeline(
    docs: DataFrame,
    threshold: float = 0.5,
    n: int = 3,
    pins: list | None = None,
) -> dict:
    """The composed curation entry point (VERDICT r11 #6) — the
    boilerplate-first ordering that was previously convention, now
    code: exact-hash collapse -> MinHash-LSH near-dup detection on
    exact SURVIVORS only -> connected-components clustering ->
    canonical-survivor selection, with exact-group members folded into
    their representative's cluster at the end.

    Returns ``{"survivors", "clusters", "pairs", "exact_groups"}``:

    - survivors: ``docs`` rows that survive both tiers (one per
      near-dup cluster, lowest doc_id canonical);
    - clusters: (doc_id, cluster_id, cluster_size, is_canonical) for
      EVERY doc — cluster_id is the global min doc_id of the
      component (exact members sit >= their group rep, so the rep
      tier's min is the global min);
    - pairs: verified near-dup pairs among exact-group REPS (kept
      rep-level on purpose: expanding exact groups into explicit
      pairs is the quadratic output the exact tier exists to avoid);
    - exact_groups: (content_md5, rep_id, n_copies).

    Scale shape: the LSH stages see one row per DISTINCT content (a
    web corpus with 10^6 copies of a boilerplate page contributes ONE
    doc to shingling/banding); total shuffle = the sum of the member
    stages (PLANS.md row).  With ``pins`` the caller owns cache
    lifetime (queries release via _release_after); without, every
    returned frame is eagerly checkpointed and the caches released
    here."""
    own: list = pins if pins is not None else []
    ex = content_hash_map(docs).persist()
    ex.count()
    own.append(ex)
    groups = ex.groupBy("content_md5").agg(
        F.min("doc_id").alias("rep_id"),
        F.count(F.lit(1)).alias("n_copies"),
    )
    rep_of = ex.join(groups, "content_md5").select("doc_id", "rep_id")
    # the rep-id set IS groups' rep_id column (one min per disjoint
    # md5 group) — deriving it from the groups agg over the cached
    # fingerprints skips the rep_of join + equality filter the r1-r14
    # form paid in every lineage that consumed rep_ids (r15)
    rep_ids = groups.select(F.col("rep_id").alias("doc_id"))
    s1_docs = docs.join(rep_ids, "doc_id", "left_semi")

    base = minhash_signatures(s1_docs, n).persist()
    base.count()
    own.append(base)
    rep_pairs = _lsh_pairs_from_base(base, threshold, pins=own).persist()
    rep_pairs.count()  # CC iterates over the pair table — must not
    own.append(rep_pairs)  # re-run the banding join per round

    from .graph import dedup_clusters

    # the vertex set of the rep-level graph is exactly rep_ids —
    # derived from the cached fingerprints, so the CC vertex
    # checkpoint never re-scans `docs` via the s1 semi-join (r15;
    # identical set: every rep_id is a docs doc_id)
    rep_clusters = dedup_clusters(rep_ids, rep_pairs)
    full = rep_of.join(
        rep_clusters.select(
            F.col("doc_id").alias("rep_id"), "cluster_id"
        ),
        "rep_id",
    ).select("doc_id", "cluster_id")
    # cluster_size via a keyed window: one pass over `full` instead of
    # the groupBy + rejoin form, whose plan computed the full
    # membership subtree TWICE (guide §2.4; values identical —
    # count over the cluster_id partition == the joined group count).
    # Mega-cluster skew is bounded by WindowExec spill — measured and
    # pinned in test_dedup_clusters_mega_cluster_window_bounded (r16)
    clusters = full.select(
        "doc_id",
        "cluster_id",
        F.count(F.lit(1))
        .over(Window.partitionBy("cluster_id"))
        .alias("cluster_size"),
        (F.col("doc_id") == F.col("cluster_id")).alias("is_canonical"),
    )
    survivors = docs.join(
        clusters.filter(F.col("is_canonical")).select("doc_id"),
        "doc_id",
        "left_semi",
    )
    exact_groups = groups.select("content_md5", "rep_id", "n_copies")
    out = {
        "survivors": survivors,
        "clusters": clusters,
        "pairs": rep_pairs,
        "exact_groups": exact_groups,
    }
    if pins is None:
        try:
            out = {
                k: v.localCheckpoint(eager=True) for k, v in out.items()
            }
        finally:
            for c in own:
                c.unpersist()
    return out


# --- incremental dedup against a persisted signature index ------------------


def minhash_index_append(
    docs: DataFrame, index_root: str, txn: str | None = None
) -> None:
    """Append (doc_id, shingles, sig) for a batch to the TxTable
    signature index.  With ``txn`` the append is idempotent — replayed
    batches (foreachBatch at-least-once) commit exactly once."""
    from ..sources.txtable import TxTable

    spark = docs.sparkSession
    base = minhash_signatures(docs)
    if not TxTable.is_table(index_root):
        # create EMPTY then txn-append: TxTable.create records no txn
        # tag, so a create-with-data would be silently re-appended when
        # an at-least-once replayer re-fires the first batch
        TxTable.create(spark, index_root, base.limit(0))
    TxTable(spark, index_root).append(base, txn=txn)


def incremental_lsh_pairs(
    new_docs: DataFrame,
    index_root: str,
    threshold: float = 0.5,
    n: int = 3,
    update_index: bool = True,
    txn: str | None = None,
    pins: list | None = None,
) -> DataFrame:
    """Near-dup pairs of a NEW batch against (itself ∪ the indexed
    corpus), without touching the corpus text: the daily-increment
    shape at 100 TB.  The historical side contributes only its stored
    signatures/shingles (read from the TxTable index — ~1% of corpus
    bytes, and band keys are derived expressions so the index holds
    one row per doc, not 8); the new batch is signed once, banded
    against the union, and candidate pairs are exact-verified.  Pairs
    are identical to what a full-corpus minhash_lsh_pairs run would
    report restricted to pairs touching the batch (same hash family,
    same banding — pinned in tests).

    With ``update_index`` the batch's signatures are appended after
    pairing, so tomorrow's increment sees today's docs.  The append is
    replay-safe (ADVICE r4): pass ``txn`` from an exactly-once
    replayer (foreachBatch batch id) and TxTable skips the re-commit;
    without a tag, already-indexed doc_ids are anti-joined out first,
    so at-least-once redelivery cannot duplicate signature rows (a
    doc_id-only column scan of the index — cheap next to the banding
    join that already read the full index this batch).

    Hot-bucket protection (r12): the BATCH side collapses identical
    shingle sets before banding (same as _lsh_pairs_from_base), so a
    boilerplate pile arriving in one batch contributes ONE banding row
    instead of quadratic within-batch candidates; member pairs
    re-expand in the output.  The INDEX side stays one row per doc —
    its pairs against a batch rep are output-sized (they ARE the
    reported near-dups), never a pre-verification blowup.  Collapsing
    the index itself would shuffle the stored shingle arrays every
    batch; the scale-right form there is storing the index collapsed
    (one row per distinct set + members), noted in PLANS.md as the
    next step if boilerplate-heavy indexes show up in practice.
    """
    from ..sources.txtable import TxTable

    spark = new_docs.sparkSession
    own: list = pins if pins is not None else []
    new_base = minhash_signatures(new_docs, n).persist()
    new_base.count()
    own.append(new_base)
    new_ids = new_base.select("doc_id")

    # batch-side collapse: reps_new is (doc_id=rep, sh, sig), one row
    # per distinct set; members_new maps every batch doc to its rep
    reps_new, members_new = _collapse_groups(new_base, pins=own)
    reps_side = reps_new.select(
        "doc_id", F.col("sh").alias("shingles"), "sig"
    )

    if TxTable.is_table(index_root):
        old_base = TxTable(spark, index_root).read().join(
            F.broadcast(new_ids), "doc_id", "left_anti"
        )
        all_side = reps_side.unionByName(old_base)
    else:
        all_side = reps_side

    def bands_of(df: DataFrame) -> DataFrame:
        return df.filter(F.size("shingles") > 0).select(
            "doc_id",
            F.explode(
                F.array(
                    *[
                        F.xxhash64(
                            *[
                                F.col("sig")[b * ROWS_PER_BAND + r]
                                for r in range(ROWS_PER_BAND)
                            ],
                            F.lit(b),
                        )
                        for b in range(N_BANDS)
                    ]
                )
            ).alias("key"),
        )

    nb, ab = bands_of(reps_side).alias("a"), bands_of(all_side).alias("b")
    # one side restricted to the batch's distinct sets: candidate
    # generation cost is O(batch-distinct bands + matching corpus
    # bands), never corpus x corpus (and never batch-clone^2)
    candidates = (
        nb.join(
            ab,
            (F.col("a.key") == F.col("b.key"))
            & (F.col("a.doc_id") != F.col("b.doc_id")),
        )
        .select(
            F.least(F.col("a.doc_id"), F.col("b.doc_id")).alias("doc_id_a"),
            F.greatest(F.col("a.doc_id"), F.col("b.doc_id")).alias("doc_id_b"),
        )
        .distinct()
    )
    doc_sh = all_side.select("doc_id", F.col("shingles").alias("sh"))
    rep_pairs = verify_jaccard(candidates, doc_sh, threshold)

    # re-expand batch reps into their members (an endpoint that is not
    # a batch rep — an index doc — expands to itself); identical sets
    # share one signature, so rep-level collisions and jaccards ARE
    # the member-level ones (see _lsh_pairs_from_base).
    ma = members_new.select(
        F.col("rep_id").alias("ra"), F.col("doc_id").alias("da")
    )
    mb = members_new.select(
        F.col("rep_id").alias("rb"), F.col("doc_id").alias("db")
    )
    expanded = (
        rep_pairs.join(ma, F.col("doc_id_a") == F.col("ra"), "left")
        .withColumn("ea", F.coalesce("da", "doc_id_a"))
        .drop("ra", "da")
        .join(mb, F.col("doc_id_b") == F.col("rb"), "left")
        .withColumn("eb", F.coalesce("db", "doc_id_b"))
        .drop("rb", "db")
        .select(
            F.least("ea", "eb").alias("doc_id_a"),
            F.greatest("ea", "eb").alias("doc_id_b"),
            "jaccard",
        )
    )
    x, y = members_new.alias("x"), members_new.alias("y")
    within = x.join(
        y,
        (F.col("x.rep_id") == F.col("y.rep_id"))
        & (F.col("x.doc_id") < F.col("y.doc_id")),
    ).select(
        F.col("x.doc_id").alias("doc_id_a"),
        F.col("y.doc_id").alias("doc_id_b"),
        F.lit(1.0).alias("jaccard"),
    )
    pairs = expanded.unionByName(within)

    if update_index:
        if not TxTable.is_table(index_root):
            # empty-create then append (minhash_index_append pattern):
            # create records no txn tag, so create-with-data would
            # double-commit on a checkpoint-loss replay
            TxTable.create(spark, index_root, new_base.limit(0))
        tbl = TxTable(spark, index_root)
        to_add = new_base
        if txn is None:
            to_add = new_base.join(
                tbl.read().select("doc_id"), "doc_id", "left_anti"
            )
        tbl.append(to_add, txn=txn)
    if pins is None:
        from . import checkpoint_release

        return checkpoint_release(pairs, own)
    return pairs
