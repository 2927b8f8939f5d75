"""Deduplication operators for training-data pipelines.

All-JVM implementations (built-in functions only — no Python in the hot
path): exact hash dedup, n-gram Jaccard pairs, MinHash+LSH banding,
SimHash, and embedding-cosine near-dup. The reference package has no
dedup surface; these are the scale ops a 100 TB text corpus needs
(SURVEY.md §2.3 extension).

Scale notes per op are inline; the common theme is: never materialize
the full pair matrix — go through shingle/band/bucket inverted joins so
the join key carries the blocking.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def exact_dedup(df: DataFrame, text: str, id_col: str) -> DataFrame:
    """One row per distinct text: (text_md5, keep_id = min id, n_copies).

    Plain hash groupBy — Catalyst does partial aggregation map-side, so
    the shuffle carries one row per distinct digest per partition.
    """
    return (
        df.groupBy(F.md5(F.col(text)).alias("text_md5"))
        .agg(F.min(id_col).alias("keep_id"), F.count("*").alias("n_copies"))
    )


def shingles(df: DataFrame, text: str, id_col: str, n: int = 3) -> DataFrame:
    """Distinct word n-gram shingles per document, all in JVM expressions:
    split -> zip_with over n shifted slices -> array_distinct -> explode.

    The n-gram array is built by folding ``zip_with(concat)`` across n
    length-aligned slices of the token array — a linear array walk.
    (The obvious ``transform(sequence(...), i -> element_at(tok, i+k))``
    form is ~9x slower: one interpreted lambda call plus n positional
    element_at lookups PER GRAM instead of a fused linear zip.)
    """
    tok = F.split(F.col(text), " ")
    size = F.size(tok)
    glen = size - (n - 1)
    grams = F.slice(tok, 1, glen)
    for k in range(1, n):
        grams = F.zip_with(
            grams,
            F.slice(tok, k + 1, glen),
            lambda x, y: F.concat(x, F.lit(" "), y),
        )
    return (
        df.filter(size >= n)
        .select(F.col(id_col).alias("doc"), F.explode(F.array_distinct(grams)).alias("sh"))
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    text: str,
    id_col: str,
    *,
    n: int = 3,
    threshold: float = 0.2,
    max_shingle_df: int | None = None,
    max_shingle_df_frac: float | None = None,
) -> DataFrame:
    """Exact Jaccard near-dup pairs over word n-gram shingle sets.

    Inverted-index self-join on the shingle (docs sharing zero shingles
    never meet), then |A∩B| via count and |A∪B| = |A|+|B|-|A∩B|.

    ``max_shingle_df`` is the stop-shingle frequency cap: shingles whose
    corpus document frequency exceeds it are dropped BEFORE the
    self-join, and Jaccard is computed over the capped shingle universe
    (set sizes count capped shingles out too). This bounds the join:
    its row count is Σ df(sh)² over surviving shingles ≤ cap · Σ df(sh),
    i.e. LINEAR in corpus shingle volume — without it one shingle shared
    by 10^6 docs alone creates 10^12 join rows. Production at 100 TB
    should always set a cap; a shingle present in >~1% of documents
    carries no near-dup signal.

    ``max_shingle_df_frac`` is the DATA-DRIVEN form of the same cap:
    the threshold is ``frac * N`` where N (corpus document count) comes
    from a 1-row broadcast aggregate inside the plan — pass 0.01 for
    "drop shingles in >1% of documents" and the cap tracks the corpus
    instead of being a constant someone tuned at a different scale.
    Mutually exclusive with ``max_shingle_df``; identical plan shape
    (the threshold comparison happens inside the hot-shingle aggregate,
    which is corpus-vocabulary-sized either way).

    Plan shape: the per-doc set size rides THROUGH the shingle join
    (window count per doc, then carried as a groupBy key) instead of two
    post-hoc dimension joins — one exchange on doc, one on shingle, one
    on the pair, nothing else.
    """
    from pyspark.sql import Window

    # cache the exploded shingles: the generation subtree (split + n-fold
    # zip_with + explode + distinct) otherwise re-executes for the
    # hot-shingle aggregate AND each side of the self-join
    if max_shingle_df is not None and max_shingle_df_frac is not None:
        raise ValueError(
            "pass max_shingle_df OR max_shingle_df_frac, not both")
    base = shingles(df, text, id_col, n).cache()
    if max_shingle_df is not None or max_shingle_df_frac is not None:
        counts = base.groupBy("sh").agg(F.count("*").alias("df_sh"))
        if max_shingle_df is not None:
            cap = F.lit(int(max_shingle_df))
        else:
            # corpus-derived threshold: frac * N via a 1-row broadcast
            n_docs = df.agg(F.count(F.lit(1)).alias("__n_docs"))
            counts = counts.crossJoin(F.broadcast(n_docs))
            cap = F.lit(float(max_shingle_df_frac)) * F.col("__n_docs")
        hot = counts.filter(F.col("df_sh") > cap).select("sh")
        # the HOT set is tiny by construction (few shingles exceed the
        # cap) -> broadcast anti-join, no extra shuffle of `base`
        base = base.join(F.broadcast(hot), "sh", "left_anti")
    base = base.withColumn("nsh", F.count("*").over(Window.partitionBy("doc")))
    a = base.alias("a")
    b = base.alias("b")
    common = (
        a.join(b, (F.col("a.sh") == F.col("b.sh")) & (F.col("a.doc") < F.col("b.doc")))
        .groupBy(
            F.col("a.doc").alias("da"), F.col("b.doc").alias("db"),
            F.col("a.nsh").alias("na"), F.col("b.nsh").alias("nb"),
        )
        .agg(F.count("*").alias("common"))
    )
    jac = common.select(
        "da", "db",
        (F.col("common").cast("double")
         / (F.col("na") + F.col("nb") - F.col("common"))).alias("jaccard"),
    )
    return jac.filter(F.col("jaccard") >= threshold)


# winnow_overlap_pairs caches its fingerprint table (3 consumers: hot-fp
# aggregate + both self-join sides).  The result is returned lazily, so the
# cache can't be dropped inside the call — instead each call evicts the
# PREVIOUS call's cache, bounding a long-lived session (bench/driver run
# dozens of queries in one JVM) to at most one live fingerprint cache.
#
# Eviction is PLAN-AWARE: Spark's cache manager is keyed by logical plan,
# so when the same query re-runs (bench iterations, repeated dashboards)
# the new .cache() joins the EXISTING entry — unpersisting the "previous"
# handle would drop that shared entry and force all three consumers to
# recompute the fingerprint pipeline (measured 1.3s -> 6s at sf0.1).
# Same-plan re-registration therefore keeps the warm entry; only a
# DIFFERENT fingerprint table evicts.
_live_fp_cache: list = []


def _register_fp_cache(new_df) -> None:
    # Results are lazy: callers should materialize a winnow result before
    # issuing the next winnow call on a DIFFERENT corpus, or the eager
    # eviction here forces the first corpus's 3-consumer fingerprint
    # subtree to recompute (perf only, never correctness). unpersist() on
    # a handle from a stopped SparkSession throws — swallow only that, the
    # cache died with the session anyway; a sameSemantics failure raises.
    for old in _live_fp_cache:
        if old.sameSemantics(new_df):
            continue
        try:
            old.unpersist()
        except Exception:
            pass
    _live_fp_cache[:] = [new_df]


def release_caches() -> None:
    """Drop the last winnow fingerprint cache (call between query suites)."""
    while _live_fp_cache:
        _live_fp_cache.pop().unpersist()


def winnow_overlap_pairs(
    df: DataFrame,
    text: str,
    id_col: str,
    *,
    min_shared: int = 2,
    min_overlap: float = 0.0,
    max_fp_df: int | None = None,
    k: int | None = None,
    window: int | None = None,
) -> DataFrame:
    """Contamination / substring-overlap pairs via winnowing
    fingerprints — the production decontamination shape (MOSS-style):
    any shared substring of length >= k + window - 1 between two docs is
    guaranteed to surface as a shared fingerprint, so thresholding on
    shared fingerprints finds train/eval contamination that whole-doc
    or shingle-set similarity misses (a paragraph copied into an
    otherwise-unrelated document).

    Inverted-index self-join on the fingerprint (same scale shape as
    :func:`ngram_jaccard_pairs`): docs sharing no fingerprint never
    meet; ``max_fp_df`` drops boilerplate fingerprints whose document
    frequency exceeds the cap BEFORE the join (broadcast anti-join), so
    the join row count stays linear in fingerprint volume at 100 TB.

    ``overlap`` is containment-normalized — shared / min(|A|, |B|) —
    so a short eval doc fully contained in a long train doc scores ~1.0
    regardless of the length ratio (plain Jaccard would dilute it).
    """
    from pyspark.sql import Window

    from roll_spark.datapipe.text import WINNOW_K, WINNOW_WINDOW, winnow_fingerprints

    kw = dict(k=k or WINNOW_K, window=window or WINNOW_WINDOW)
    base = (
        winnow_fingerprints(df, text, id_col, **kw)
        .withColumnRenamed(id_col, "doc")
        .cache()  # reused by the hot-fp aggregate and both join sides
    )
    _register_fp_cache(base)
    if max_fp_df is not None:
        hot = (
            base.groupBy("fp").agg(F.count("*").alias("df_fp"))
            .filter(F.col("df_fp") > max_fp_df)
            .select("fp")
        )
        base = base.join(F.broadcast(hot), "fp", "left_anti")
    base = base.withColumn("nfp", F.count("*").over(Window.partitionBy("doc")))
    a, b = base.alias("a"), base.alias("b")
    common = (
        a.join(b, (F.col("a.fp") == F.col("b.fp")) & (F.col("a.doc") < F.col("b.doc")))
        .groupBy(
            F.col("a.doc").alias("da"), F.col("b.doc").alias("db"),
            F.col("a.nfp").alias("na"), F.col("b.nfp").alias("nb"),
        )
        .agg(F.count("*").alias("shared_fps"))
    )
    out = common.select(
        "da", "db", "shared_fps",
        (F.col("shared_fps").cast("double") / F.least("na", "nb")).alias("overlap"),
    )
    return out.filter(
        (F.col("shared_fps") >= min_shared) & (F.col("overlap") >= min_overlap)
    )


def minhash_signatures(
    df: DataFrame, text: str, id_col: str, *, n_hashes: int = 32, n: int = 3
) -> DataFrame:
    """MinHash signature per doc: k independent hash functions simulated
    as xxhash64(shingle || salt_i); signature_i = min over shingles.
    One explode + one groupBy with k min-aggregates — fully JVM-side."""
    sh = shingles(df, text, id_col, n)
    aggs = [
        F.min(F.xxhash64(F.col("sh"), F.lit(i))).alias(f"h{i}") for i in range(n_hashes)
    ]
    return sh.groupBy("doc").agg(*aggs)


def minhash_lsh_pairs(
    df: DataFrame,
    text: str,
    id_col: str,
    *,
    n_hashes: int = 32,
    bands: int = 8,
    n: int = 3,
    verify_threshold: float | None = 0.5,
    max_shingle_df: int | None = None,
) -> DataFrame:
    """MinHash + LSH banding candidate pairs, optionally verified.

    Signatures are split into ``bands`` bands of ``n_hashes/bands`` rows;
    docs colliding in ANY band become candidates (classic S-curve
    blocking). Candidates are optionally verified with exact shingle
    Jaccard (``max_shingle_df`` passes the stop-shingle cap through to
    the verify join, see ngram_jaccard_pairs). Only candidates ever
    join — the full pair space is never touched, which is the property
    that survives 10^10 docs.

    Recall is 1 - (1 - j^rows)^bands for true Jaccard j: at the default
    (bands=8, rows=4) a j=0.8 pair is caught w.p. ~0.985. For an
    oracle-exact gated query use a high-recall config (e.g. bands=16,
    rows=2: j=0.5 -> 0.99, j=0.8 -> 1-2e-7) so the verified output
    equals the exact-Jaccard pair set.
    """
    if n_hashes % bands:
        raise ValueError("bands must divide n_hashes")
    rows = n_hashes // bands
    sig = minhash_signatures(df, text, id_col, n_hashes=n_hashes, n=n)
    band_cols = [
        F.xxhash64(*[F.col(f"h{b * rows + r}") for r in range(rows)], F.lit(b)).alias(
            f"band{b}"
        )
        for b in range(bands)
    ]
    banded = sig.select("doc", *band_cols)
    stacked = banded.select(
        "doc",
        F.explode(
            F.array(*[
                F.struct(F.lit(b).alias("band"), F.col(f"band{b}").alias("sig"))
                for b in range(bands)
            ])
        ).alias("bs"),
    ).select("doc", F.col("bs.band").alias("band"), F.col("bs.sig").alias("sig"))
    l = stacked.alias("l")
    r = stacked.alias("r")
    cand = (
        l.join(r, (F.col("l.band") == F.col("r.band"))
               & (F.col("l.sig") == F.col("r.sig"))
               & (F.col("l.doc") < F.col("r.doc")))
        .select(F.col("l.doc").alias("da"), F.col("r.doc").alias("db"))
        .distinct()
    )
    if verify_threshold is None:
        return cand
    exact = ngram_jaccard_pairs(df, text, id_col, n=n, threshold=verify_threshold,
                                max_shingle_df=max_shingle_df)
    return cand.join(exact, ["da", "db"], "inner")


def simhash(df: DataFrame, text: str, id_col: str, *, bits: int = 32) -> DataFrame:
    """SimHash fingerprint: per token a 64-bit hash votes ±1 on each of
    ``bits`` positions; the sign vector packs into one long.

    Implemented as explode(tokens) -> groupBy(doc) with ``bits`` sum
    aggregates over bit tests — shuffles one row per (doc, token) and
    aggregates map-side first.
    """
    tok = F.explode(F.split(F.col(text), " ")).alias("tok")
    base = df.select(F.col(id_col).alias("doc"), tok).filter(F.col("tok") != "")
    h = F.xxhash64("tok")
    votes = [
        F.sum(
            F.when(F.shiftright(h, b).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"v{b}")
        for b in range(bits)
    ]
    agg = base.groupBy("doc").agg(*votes)
    fp = None
    for b in range(bits):
        bit = F.when(F.col(f"v{b}") > 0, F.lit(1).cast("long")).otherwise(F.lit(0).cast("long"))
        term = F.shiftleft(bit, b)
        fp = term if fp is None else fp.bitwiseOR(term)
    return agg.select("doc", fp.alias("simhash"))


def simhash_neardup_pairs(
    df: DataFrame, text: str, id_col: str, *, bits: int = 32, max_hamming: int = 3,
    bands: int = 4,
) -> DataFrame:
    """Near-dup pairs by SimHash hamming distance, banded so candidates
    collide on at least one exact byte-band (pigeonhole: hamming <= 3
    over 4 bands guarantees one identical band)."""
    fp = simhash(df, text, id_col, bits=bits).cache()
    width = bits // bands
    mask = (1 << width) - 1
    stacked = fp.select(
        "doc", "simhash",
        F.explode(F.array(*[
            F.struct(
                F.lit(b).alias("band"),
                F.shiftright("simhash", b * width).bitwiseAND(F.lit(mask)).alias("key"),
            )
            for b in range(bands)
        ])).alias("bk"),
    ).select("doc", "simhash", "bk.band", "bk.key")
    l, r = stacked.alias("l"), stacked.alias("r")
    cand = (
        l.join(r, (F.col("l.band") == F.col("r.band")) & (F.col("l.key") == F.col("r.key"))
               & (F.col("l.doc") < F.col("r.doc")))
        .select(F.col("l.doc").alias("da"), F.col("r.doc").alias("db"),
                F.col("l.simhash").alias("ha"), F.col("r.simhash").alias("hb"))
        .distinct()
    )
    hamming = F.bit_count(F.col("ha").bitwiseXOR(F.col("hb")))
    return cand.select("da", "db", hamming.alias("hamming")).filter(
        F.col("hamming") <= max_hamming
    )


def simhash_verified_pairs(
    df: DataFrame,
    text: str,
    id_col: str,
    *,
    bits: int = 32,
    bands: int = 8,
    n: int = 3,
    jaccard_threshold: float = 0.4,
) -> DataFrame:
    """SimHash-blocked near-dup pairs VERIFIED by exact n-gram Jaccard.

    Blocking: docs colliding on >=1 exact simhash byte-band (pigeonhole:
    ``bands`` bands over ``bits`` bits guarantees a collision for any
    pair with hamming < bands). Verification: exact word n-gram Jaccard
    >= ``jaccard_threshold`` (token-level UNIGRAMS are deliberately not
    used: corpora drawn from a shared vocabulary make unigram sets
    near-identical across unrelated docs). Only candidates reach the
    verify join, so the pair space stays bounded by the banding at any
    corpus size; the verified output is exact over the candidate set,
    which makes it oracle-checkable against the full exact pair set
    whenever the banding's recall is 1 on the corpus (near-identical
    docs have tiny hamming distance, and bands=8 over 32 bits tolerates
    hamming <= 7)."""
    fp = simhash(df, text, id_col, bits=bits)
    width = bits // bands
    mask = (1 << width) - 1
    stacked = fp.select(
        "doc",
        F.explode(F.array(*[
            F.struct(
                F.lit(b).alias("band"),
                F.shiftright("simhash", b * width).bitwiseAND(F.lit(mask)).alias("key"),
            )
            for b in range(bands)
        ])).alias("bk"),
    ).select("doc", "bk.band", "bk.key")
    l, r = stacked.alias("l"), stacked.alias("r")
    cand = (
        l.join(r, (F.col("l.band") == F.col("r.band"))
               & (F.col("l.key") == F.col("r.key"))
               & (F.col("l.doc") < F.col("r.doc")))
        .select(F.col("l.doc").alias("da"), F.col("r.doc").alias("db"))
        .distinct()
    )
    exact = ngram_jaccard_pairs(df, text, id_col, n=n,
                                threshold=jaccard_threshold)
    return cand.join(exact, ["da", "db"], "inner")


def embedding_neardup_pairs(
    emb: DataFrame, vec: str, id_col: str, *, threshold: float = 0.9
) -> DataFrame:
    """Exact cosine near-dup pairs (brute force; the LSH-bucketed variant
    lives in datapipe.similarity for the scale path)."""
    from roll_spark.datapipe.similarity import cosine_expr

    a = emb.select(F.col(id_col).alias("da"), F.col(vec).alias("va"))
    b = emb.select(F.col(id_col).alias("db"), F.col(vec).alias("vb"))
    pairs = a.join(b, F.col("da") < F.col("db"))
    return pairs.select(
        "da", "db", cosine_expr("va", "vb").alias("cosine")
    ).filter(F.col("cosine") >= threshold)


def embedding_neardup_lsh(
    emb: DataFrame,
    vec: str,
    id_col: str,
    *,
    threshold: float = 0.4,
    dim: int = 64,
    n_planes: int = 32,
    bands: int = 16,
    seed: int = 42,
) -> DataFrame:
    """Near-dup pairs via hyperplane-LSH blocking + exact cosine rerank —
    the SCALE path for embedding dedup (embedding_neardup_pairs above is
    the brute all-pairs oracle, test-only).

    Corpus vectors get ``bands`` sign-bit band keys from a deterministic
    seeded projection; only pairs colliding on >=1 band are cosine-
    scored. A pair at cosine c shares one sign bit w.p. 1 - acos(c)/pi,
    so a ``rows``-bit band collides w.p. that to the ``rows``-th power
    and recall is 1 - (1 - p_band)^bands: the defaults (16 bands of 2
    bits) give ~0.9997 at c=0.4 and ~1 - 1e-9 at c=0.8. Tune UP (more
    rows per band -> finer buckets, more bands -> recall back) as the
    corpus grows: at 10^10 vectors use 16-24-bit bands so each bucket
    stays small; the brute join's n^2/2 products never run either way.
    """
    from roll_spark.datapipe.similarity import (
        _hyperplanes,
        cosine_expr,
        lsh_band_keys_udf,
    )

    if n_planes % bands:
        raise ValueError("bands must divide n_planes")
    rows = n_planes // bands
    planes = _hyperplanes(dim, n_planes, seed)
    sel = emb.select(F.col(id_col).alias("doc"), F.col(vec).alias("v"))
    # band keys come from ONE Arrow matmul per batch (the verified >=
    # threshold output is insensitive to candidate-set perturbation, so
    # the matmul fast path is safe here — see lsh_band_keys_udf); the
    # banded self-join and the distinct then run over BARE id pairs —
    # the dim-wide vectors never enter the exploded/joined/deduped
    # intermediates; they rejoin once per surviving candidate pair
    keys_udf = lsh_band_keys_udf(planes, bands, rows)
    banded = (
        sel.select("doc", F.posexplode(keys_udf(F.col("v"))).alias("band", "key"))
    )
    l, r = banded.alias("l"), banded.alias("r")
    cand = (
        l.join(r, (F.col("l.band") == F.col("r.band"))
               & (F.col("l.key") == F.col("r.key"))
               & (F.col("l.doc") < F.col("r.doc")))
        .select(F.col("l.doc").alias("da"), F.col("r.doc").alias("db"))
        .distinct()
    )
    va = sel.select(F.col("doc").alias("da"), F.col("v").alias("va"))
    vb = sel.select(F.col("doc").alias("db"), F.col("v").alias("vb"))
    return (
        cand.join(va, "da").join(vb, "db")
        .select("da", "db", cosine_expr("va", "vb").alias("cosine"))
        .filter(F.col("cosine") >= threshold)
    )


def _cc_digest(edges):
    """(count, order-insensitive xor digest) of an edge list — the
    fixpoint test's whole driver footprint. bit_xor is immune to ANSI
    sum overflow; edge rows are distinct so xor cancellation cannot
    collide two different edge sets that share a count."""
    row = edges.agg(
        F.count("*").alias("n"),
        F.expr("bit_xor(xxhash64(u, v))").alias("h"),
    ).collect()[0]
    return (row["n"], row["h"])


def _cc_large_star(edges):
    """Connect every strictly-larger neighbor of u to min(N(u) ∪ {u})."""
    nbr = edges.union(edges.select(F.col("v").alias("u"), F.col("u").alias("v")))
    m = nbr.groupBy("u").agg(F.least(F.min("v"), F.first("u")).alias("m"))
    return (
        nbr.join(m, "u")
        .filter(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )


def _cc_small_star(edges):
    """Direct edges high->low, connect every smaller-or-equal neighbor
    (and u itself) to the minimum."""
    d = edges.select(F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v"))
    m = d.groupBy("u").agg(F.min("v").alias("m"))
    withm = d.join(m, "u")
    return (
        withm.select(F.col("v").alias("u"), F.col("m").alias("v"))
        .union(withm.select(F.col("u"), F.col("m").alias("v")))
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )


def connected_components(
    pairs: DataFrame,
    a: str = "da",
    b: str = "db",
    *,
    max_iter: int = 30,
    out_id: str = "doc_id",
    out_cluster: str = "cluster_id",
    stats: dict | None = None,
) -> DataFrame:
    """Duplicate-cluster assignment: connected components over a
    candidate-pair edge list (minhash / simhash / winnow-overlap pairs),
    labeling every node with its component's MINIMUM id.

    Alternating large-star / small-star (Kiveris et al., "Connected
    Components in MapReduce and Beyond", SoCC'14) — O(log^2 n) rounds
    worst-case, each round ONE groupBy over the edge list, so an
    adversarial chain of near-duplicates (the failure mode of naive
    min-label propagation, whose round count is the graph DIAMETER)
    still converges in a handful of shuffles at 10^10 edges.  Per-round
    driver work is two scalars (edge count + order-insensitive digest)
    for the fixpoint test; edge lineage is truncated with
    localCheckpoint so round k does not replay rounds 1..k-1.

    large-star: every node u connects its strictly-larger neighbors to
    min(N(u) ∪ {u}); small-star: after directing edges high->low, every
    node connects its smaller-or-equal neighbors to that minimum.  At
    the fixpoint the edge list IS the star (node -> component min).
    """
    # checkpoint the INITIAL edge list too: the upstream pair pipeline
    # (LSH / winnow inverted-index joins) is the expensive part, and the
    # round-0 star DAG references the edges several times (u->v plus the
    # swapped direction, each through its own shuffle lineage) — without
    # truncation the pair generation re-executes per reference
    # (measured 30s -> ~6s at sf0.1)
    e = (
        pairs.select(F.col(a).alias("u"), F.col(b).alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint(eager=True)
    )

    # the edge list SHRINKS every round (star contraction), so keep the
    # physical partition count matched to the current edge count — the
    # digest already knows it for free. Without this, every round pays
    # shuffle-partition-count task launches for a few hundred rows and
    # the fixpoint loop is pure scheduler overhead (measured 30s -> ~5s
    # at sf0.1); at 10^10 edges the same formula keeps full parallelism
    # (capped at 4x the cluster's default parallelism).
    par_cap = 4 * pairs.sparkSession.sparkContext.defaultParallelism

    def _parts(n_edges):
        return int(max(1, min(par_cap, n_edges // 200_000 + 1)))

    sig = _cc_digest(e)
    converged = False
    rounds = 0
    for _ in range(max_iter):
        e = (
            _cc_small_star(_cc_large_star(e))
            .repartition(_parts(sig[0]))
            .localCheckpoint(eager=True)
        )
        rounds += 1
        nsig = _cc_digest(e)
        if nsig == sig:
            converged = True
            break
        sig = nsig
    if stats is not None:
        # observability for the O(log^2 n) convergence claim: soak
        # tests/bench assert the measured round count against the bound
        stats["rounds"] = rounds
        stats["final_edges"] = sig[0]
    if not converged:
        # star contraction converges in O(log^2 n) rounds — the default
        # 30 covers any realizable graph. Exhausting max_iter means
        # labels could still be moving: refuse to emit silently-partial
        # clusters (a dedup pipeline would silently under-merge).
        raise RuntimeError(
            f"connected_components did not reach a fixpoint in {max_iter} "
            f"rounds ({sig[0]} edges live); raise max_iter"
        )
    # fixpoint edges point node -> component min; the min itself has no
    # outgoing edge, so union its self-label back in
    labels = e.select(F.col("u").alias(out_id), F.col("v").alias(out_cluster)).union(
        e.select(F.col("v").alias(out_id), F.col("v").alias(out_cluster))
    ).groupBy(out_id).agg(F.min(out_cluster).alias(out_cluster))
    sizes = labels.groupBy(out_cluster).agg(F.count("*").alias("cluster_size"))
    return labels.join(sizes, out_cluster).select(out_id, out_cluster, "cluster_size")
