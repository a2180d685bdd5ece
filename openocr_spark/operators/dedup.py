"""Deduplication operators for web-scale corpora — exact, MinHash+LSH,
n-gram Jaccard, SimHash. All JVM-side expressions (no Python UDFs);
hashes are md5-based so the DuckDB oracle can reproduce them bit-for-bit.

Scale notes: every variant is a shuffle-on-key design —
  exact:   one hash aggregation on the fingerprint (map-side partial agg)
  minhash: explode shingles → per-doc agg (one shuffle) → explode bands →
           self-join on (band_idx, band_key); band buckets are the only
           quadratic surface and stay small when bands are wide
  jaccard: shingle inverted index self-join, guarded by a stop-shingle
           document-frequency cap (a shingle shared by k docs produces
           O(k²) join rows — one stop-shingle at df=10⁶ is 10¹² rows);
           at 100 TB you additionally run this per-LSH-bucket, never
           globally
  simhash: explode tokens → 16 bit-majority aggregations → group by code
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

N_MINHASHES = 8
N_BANDS = 4  # 2 hashes per band


def exact_dedup_stats(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Exact dedup via content-hash groupBy: per duplicate-group size and
    canonical (min) id. One partial-aggregated shuffle."""
    return (
        df.groupBy(F.md5(F.col(text_col)).alias("fingerprint"))
        .agg(
            F.count("*").alias("n_copies"),
            F.min(id_col).alias("canonical_id"),
        )
    )


def shingle_array(text: Column, n: int = 3) -> Column:
    """Word n-gram shingles as an array column.

    Built from n shifted `slice`s zipped with concat rather than
    transform+element_at: the lambda-with-captured-split form re-evaluates
    the tokenization per element (measured 4.3x slower at sf0.1); the
    slice form tokenizes once per shifted view and stays in codegen."""
    toks = F.split(text, " ")
    m = F.size(toks) - (n - 1)  # number of shingles
    out = F.slice(toks, 1, m)
    for j in range(1, n):
        out = F.zip_with(
            out, F.slice(toks, 1 + j, m), lambda a, b: F.concat(a, F.lit(" "), b)
        )
    return F.when(F.size(toks) >= n, out).otherwise(
        F.array().cast("array<string>")
    )


def shingles(df: DataFrame, id_col: str, text_col: str, n: int = 3) -> DataFrame:
    """(id, shingle) distinct pairs — the inverted-index base relation.
    The input projection is spread first (guide §2.5): shingle
    construction + the explode run before the distinct's exchange, and
    an unsplittable input would serialize them on one core."""
    from openocr_spark.operators.partitioning import spread

    return (
        spread(df.select(F.col(id_col).alias("id"), F.col(text_col).alias("_t")))
        .select("id", shingle_array(F.col("_t"), n).alias("sh"))
        .select("id", F.explode("sh").alias("shingle"))
        .distinct()
    )


def minhash_signatures(
    df: DataFrame, id_col: str, text_col: str, n: int = 3
) -> DataFrame:
    """Per-doc MinHash signature: for each of N_MINHASHES seeded hash
    functions, the minimum md5 of (shingle + seed). min() over hex
    strings is engine-portable and order-free.

    Computed per ROW as array_min over the shingle array — no explode,
    no distinct, no groupBy: MIN is insensitive to duplicate shingles,
    so the value equals the exploded-distinct-grouped form exactly,
    while the plan drops from three exchanges (distinct + group) to
    ZERO (guide §2.4 "remove shuffles outright"; measured 4.1s → the
    narrow pass at sf0.1). The row set is unchanged: only docs with
    ≥ n tokens have shingles, which the cheap pre-filter on the token
    count reproduces (split is evaluated once there and once in
    shingle_array — still strictly less work than the old shuffle).
    Docs with duplicate-only shingles keep identical signatures.

    Precondition: `id_col` is unique. The per-row form gives one
    signature per ROW, so two rows sharing an id yield two signature
    rows for it (the grouped form merged their shingles into one)."""
    from openocr_spark.operators.partitioning import spread

    # spread BEFORE the hashing expressions: an unsplittable input (one
    # parquet row group) would otherwise run the whole md5 pass on one
    # core (guide §2.5); no-op when the scan is already parallel
    base = (
        spread(df.select(F.col(id_col).alias("id"), F.col(text_col).alias("_t")))
        .filter(F.size(F.split(F.col("_t"), " ")) >= n)
        .select("id", shingle_array(F.col("_t"), n).alias("_sh"))
    )
    aggs = [
        F.array_min(
            F.transform("_sh", lambda x: F.md5(F.concat(x, F.lit(f"#{s}"))))
        ).alias(f"h{s}")
        for s in range(N_MINHASHES)
    ]
    return base.select("id", *aggs)


def band_structs(h_cols: list[Column]) -> Column:
    """(band_idx, band_key) struct array from the N_MINHASHES hash
    columns — THE band scheme, shared by batch lsh_bands and the
    streaming per-row expression (streaming/jobs.minhash_bands_expr),
    so the streaming==batch candidate-set contract is structural rather
    than two copies that could silently diverge."""
    per_band = N_MINHASHES // N_BANDS
    return F.array(
        *[
            F.struct(
                F.lit(b).alias("band_idx"),
                F.md5(
                    F.concat(*[h_cols[b * per_band + j] for j in range(per_band)])
                ).alias("band_key"),
            )
            for b in range(N_BANDS)
        ]
    )


def lsh_bands(sigs: DataFrame) -> DataFrame:
    """Signature → (id, band_idx, band_key) rows; band_key = md5 of the
    band's concatenated minhashes."""
    bands = band_structs([F.col(f"h{s}") for s in range(N_MINHASHES)])
    return sigs.select("id", F.explode(bands).alias("b")).select(
        "id", "b.band_idx", "b.band_key"
    )


def lsh_candidate_pairs(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """MinHash-LSH near-dup candidates: pairs sharing ≥1 band, with the
    number of agreeing bands. The self-join is on (band_idx, band_key) —
    bucket-local, never all-pairs."""
    # localCheckpoint, not persist: the self-join would otherwise
    # evaluate the whole shingle→signature lineage twice, and a
    # persist() here would PIN a CacheManager entry per call with no
    # unpersist possible (the returned frame still needs it) — a
    # storage leak for long-lived drivers. A local checkpoint
    # materializes once, truncates the lineage, and its blocks are
    # reclaimed by the ContextCleaner when the frame is unreferenced
    # (the "checkpoint the signature table" note below, made real).
    bands = lsh_bands(
        minhash_signatures(df, id_col, text_col)
    ).localCheckpoint(eager=False)
    a = bands.alias("a")
    b = bands.alias("b")
    return (
        a.join(b, ["band_idx", "band_key"])
        .filter(F.col("a.id") < F.col("b.id"))
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count("*").alias("n_bands"))
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.1,
    max_df: int = 50,
) -> DataFrame:
    """Exact n-gram Jaccard similarity for pairs sharing ≥1 shingle:
    |A∩B| from the inverted-index self-join, |A|,|B| from per-doc counts,
    J = common / (|A|+|B|-common). Returns pairs with J ≥ threshold.

    Hot-shingle guard: shingles appearing in more than `max_df` documents
    (stop-shingles) are dropped from the universe BEFORE the self-join —
    both the intersection and the per-doc sizes are computed over the
    filtered universe, so the Jaccard stays self-consistent. The stop
    list is tiny by construction (few shingles exceed the cap), so it
    broadcasts; the blowup surface is then bounded at max_df² rows per
    surviving shingle. max_df=50 is inert at the test SFs (observed max
    df: 7 at sf0.01, 25 at sf0.1 — results unchanged) but caps the
    O(k²) explosion a web corpus's boilerplate shingles would cause."""
    raw = shingles(df, id_col, text_col, n)
    stop = (
        raw.groupBy("shingle")
        .agg(F.count("*").alias("df"))
        .filter(F.col("df") > max_df)
        .select("shingle")
    )
    sh = raw.join(F.broadcast(stop), "shingle", "left_anti")
    sizes = sh.groupBy("id").agg(F.count("*").alias("n_sh"))
    a = sh.alias("a")
    b = sh.alias("b")
    common = (
        a.join(b, "shingle")
        .filter(F.col("a.id") < F.col("b.id"))
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count("*").alias("common"))
    )
    sa = sizes.select(F.col("id").alias("id_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col("id").alias("id_b"), F.col("n_sh").alias("n_b"))
    return (
        common.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(
                F.col("common") / (F.col("n_a") + F.col("n_b") - F.col("common")), 6
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def jaccard_verify_pairs(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.1,
    max_df: int = 50,
) -> DataFrame:
    """Exact n-gram Jaccard for a GIVEN candidate pair set — the verify
    stage of LSH dedup. Unlike ngram_jaccard_pairs (whose inverted-index
    self-join touches every co-shingled pair in the corpus), this joins
    each candidate pair to its two docs' shingle sets, so the quadratic
    surface scales with |pairs|, not |corpus|: the only full-corpus work
    left is the LINEAR stop-shingle document-frequency aggregation,
    which must stay global so the Jaccard values are bit-identical to
    the global computation (the df cap defines the shingle universe).

    pairs: (id_a, id_b). Output: (id_a, id_b, jaccard) for candidate
    pairs with J ≥ threshold. Values equal ngram_jaccard_pairs' for the
    same pairs (pinned by deduplicate_corpus's unchanged oracle)."""
    raw = shingles(df, id_col, text_col, n)
    stop = (
        raw.groupBy("shingle")
        .agg(F.count("*").alias("df"))
        .filter(F.col("df") > max_df)
        .select("shingle")
    )
    cand_ids = (
        pairs.select(F.col("id_a").alias("id"))
        .unionByName(pairs.select(F.col("id_b").alias("id")))
        .distinct()
    )
    # narrow the shingle relation to candidate docs BEFORE any join —
    # this is the row-count bound tests/test_dedup_similarity asserts
    sh = (
        raw.join(F.broadcast(stop), "shingle", "left_anti")
        .join(cand_ids, "id", "left_semi")
    )
    sizes = sh.groupBy("id").agg(F.count("*").alias("n_sh"))
    a = sh.select(F.col("id").alias("id_a"), "shingle")
    b = sh.select(F.col("id").alias("id_b"), "shingle")
    common = (
        pairs.join(a, "id_a")
        .join(b, ["id_b", "shingle"])
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("common"))
    )
    sa = sizes.select(F.col("id").alias("id_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col("id").alias("id_b"), F.col("n_sh").alias("n_b"))
    return (
        common.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(
                F.col("common") / (F.col("n_a") + F.col("n_b") - F.col("common")), 6
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def dedup_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iters: int = 20,
) -> DataFrame:
    """Connected components over candidate duplicate pairs → per-doc
    canonical id (the final step of MinHash dedup at corpus scale: LSH
    emits pairs; the dedup decision needs the transitive closure, since
    A~B and B~C must collapse to one canonical even when A,C never
    share a band).

    Algorithm: hash-min label propagation. Each node starts with
    comp = its own id; each round every node takes the min of its
    component label and its neighbors' labels; stop when a round
    changes nothing. Rounds needed = eccentricity of the min-id node ≈
    component diameter — near-duplicate clusters are small and dense,
    so a handful of rounds suffices; a non-converged run RAISES rather
    than silently returning non-canonical labels (for adversarial
    topologies dedup_components_star is the O(log n)-round variant).
    Each round is ONE join+aggregation: the edge set carries self-loops
    so a node reads its own label through the same join that reads its
    neighbors'. Every round's labels are localCheckpoint-ed (eager) —
    iterative lineage MUST be truncated: the round plan references the
    previous round's frame twice (propagation join + convergence
    compare), so without truncation the plan tree doubles per round and
    the driver dies in Catalyst plan-string generation near ~10 rounds
    (caught by the ring-16 test). Checkpointing also means NO
    CacheManager entries leak (ADVICE r2): old checkpoint RDD storage
    is GC-managed by ContextCleaner as the loop drops references.
    Shuffle is on node id only; no collect of the graph. The
    driver-side convergence check is one count() per round — iterative
    algorithms are actions-per-iteration by nature (same structure as
    GraphFrames' connected components).

    pairs: (id_a, id_b) candidate edges. Output: (id, canonical_id)
    for every node that appears in at least one pair.
    """
    edges = (
        pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
        .unionByName(
            pairs.select(F.col(id_b).alias("src"), F.col(id_a).alias("dst"))
        )
        .distinct()
    )
    nodes = edges.select(F.col("src").alias("id")).distinct()
    # self-loops: a node reads its OWN label through the same join that
    # reads its neighbors' — one reference to `labels` per round
    edges2 = edges.unionByName(
        nodes.select(F.col("id").alias("src"), F.col("id").alias("dst"))
    ).localCheckpoint(eager=True)
    labels = nodes.withColumn("comp", F.col("id")).localCheckpoint(eager=True)
    changed = 1
    for _ in range(max_iters):
        # ONE join+agg per round: min over neighbors' comps is the new
        # label, and the node's OWN previous comp rides along through
        # its self-loop row (dst == src), so the convergence compare
        # needs no second join — the self-loop guarantees comp is
        # monotone non-increasing, so "changed" = comp < own_prev
        new_labels = (
            edges2.join(labels, edges2["dst"] == labels["id"])
            .groupBy("src")
            .agg(
                F.min("comp").alias("comp"),
                F.max(
                    F.when(F.col("dst") == F.col("src"), F.col("comp"))
                ).alias("own_prev"),
            )
            .select(F.col("src").alias("id"), "comp", "own_prev")
            .localCheckpoint(eager=True)
        )
        changed = new_labels.filter(F.col("comp") < F.col("own_prev")).count()
        labels = new_labels.select("id", "comp")
        if changed == 0:
            break
    if changed != 0:
        # silently returning non-canonical labels would mean silent
        # under-deduplication at scale; the caller must raise max_iters
        # (rounds needed = component diameter)
        raise RuntimeError(
            f"dedup_components did not converge in {max_iters} rounds "
            f"({changed} labels still changing); raise max_iters"
        )
    return labels.select("id", F.col("comp").alias("canonical_id"))


def dedup_components_star(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iters: int = 30,
) -> DataFrame:
    """Connected components via LARGE-STAR / SMALL-STAR alternation
    (Kiveris et al., "Connected Components in MapReduce and Beyond",
    SoCC'14) — the O(log n)-round contraction for ADVERSARIAL
    topologies where hash-min's O(diameter) rounds would be the
    bottleneck (long paths, giant sparse components). Same output
    contract as dedup_components (property-tested equivalent on random
    graphs in tests/test_dedup_similarity.py).

      large-star: every node u routes its LARGER neighbors to
                  m(u) = min(N(u) ∪ {u})
      small-star: every node u routes its smaller-or-equal neighbors
                  (and itself) to the minimum of those

    Each operation is one groupBy-min plus one join on the edge
    relation — shuffle on node id. The edge set is localCheckpoint-ed
    every round: both stars reference it twice, so without lineage
    truncation the plan would double per round (the same exponential
    blowup hash-min hit before its self-loop restructure).
    Converges when the edge set is a fixed point (a star forest);
    raises if max_iters rounds don't reach it.
    """
    u, v = F.col("u"), F.col("v")
    base = (
        pairs.select(F.col(id_a).alias("u"), F.col(id_b).alias("v"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    all_nodes = base.select(u.alias("id")).unionByName(
        base.select(v.alias("id"))
    ).distinct()
    e = base.filter(u != v)

    def large_star(e: DataFrame) -> DataFrame:
        bi = e.unionByName(e.select(v.alias("u"), u.alias("v")))
        mins = bi.groupBy("u").agg(F.min("v").alias("mn"))
        mins = mins.select("u", F.least(F.col("mn"), u).alias("m"))
        return (
            bi.join(mins, "u")
            .filter(v > u)
            .select(v.alias("u"), F.col("m").alias("v"))
            .filter(u != v)
            .distinct()
        )

    def small_star(e: DataFrame) -> DataFrame:
        ori = e.select(
            F.greatest(u, v).alias("u"), F.least(u, v).alias("v")
        ).distinct()
        mins = ori.groupBy("u").agg(F.min("v").alias("m"))
        routed = (
            ori.join(mins, "u")
            .filter(v != F.col("m"))
            .select(v.alias("u"), F.col("m").alias("v"))
        )
        self_edge = mins.select(u, F.col("m").alias("v"))
        return routed.unionByName(self_edge).filter(u != v).distinct()

    def canon(e: DataFrame) -> DataFrame:
        return e.select(
            F.greatest(u, v).alias("u"), F.least(u, v).alias("v")
        ).distinct()

    converged = False
    for _ in range(max_iters):
        nxt = small_star(large_star(e)).localCheckpoint(eager=True)
        ca, cb = canon(e), canon(nxt)
        diff = (
            ca.exceptAll(cb).unionByName(cb.exceptAll(ca)).limit(1).count()
        )
        e = nxt
        if diff == 0:
            converged = True
            break
    if not converged:
        raise RuntimeError(
            f"dedup_components_star did not converge in {max_iters} rounds"
        )
    # fixed point is a star forest: every non-root points at its
    # component min; roots appear only on the v side
    bi = e.unionByName(e.select(v.alias("u"), u.alias("v")))
    labels = bi.groupBy("u").agg(F.min("v").alias("mn")).select(
        u.alias("id"), F.least(F.col("mn"), u).alias("canonical_id")
    )
    # nodes whose every pair was a self-loop vanish from the edge set
    # but are still their own canonical
    return (
        all_nodes.join(labels, "id", "left")
        .select(
            "id",
            F.coalesce(F.col("canonical_id"), F.col("id")).alias("canonical_id"),
        )
    )


def deduplicate_corpus(
    df: DataFrame,
    id_col: str,
    text_col: str,
    jaccard_threshold: float = 0.5,
    max_df: int = 50,
) -> DataFrame:
    """The full MinHash dedup decision, composed end-to-end (the
    pipeline every large-corpus dedup runs):

      LSH candidates  (bucket self-join — never all-pairs)
      → exact n-gram-Jaccard VERIFY of the candidate pairs ONLY
        (jaccard_verify_pairs: each candidate pair joins to its two
        docs' shingle sets, so verify cost scales with |candidates|;
        the only corpus-wide verify work is the linear stop-shingle df
        aggregation that defines the shingle universe)
      → transitive components over verified duplicate pairs
      → per-doc verdict: (id, canonical_id, keep) — keep=false means
        the doc is a duplicate of a lower-id canonical.

    Docs in no verified pair are their own canonical (keep=true)."""
    cand = (
        lsh_candidate_pairs(df, id_col, text_col)
        .select("id_a", "id_b")
        .persist()  # read twice: candidate-id derivation + pair join
    )
    try:
        verified = jaccard_verify_pairs(
            df, cand, id_col, text_col,
            threshold=jaccard_threshold, max_df=max_df,
        ).select("id_a", "id_b")
        comp = dedup_components(verified)
    finally:
        cand.unpersist()  # incl. the non-convergence raise path
    ids = df.select(F.col(id_col).alias("id"))
    return (
        ids.join(comp, "id", "left")
        .select(
            "id",
            F.coalesce(F.col("canonical_id"), F.col("id")).alias("canonical_id"),
        )
        .withColumn("keep", F.col("canonical_id") == F.col("id"))
    )


def simhash16(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """16-bit SimHash over word tokens. Bit i of a token = parity of the
    ascii code of hex digit i of md5(token) — engine-portable (ascii/substr
    /md5 behave identically in Spark and DuckDB). Document bit i = majority
    vote over tokens; code = Σ bit_i · 2^i."""
    from openocr_spark.operators.partitioning import spread

    toks = spread(
        df.select(F.col(id_col).alias("id"), F.col(text_col).alias("_t"))
    ).select(
        "id", F.explode(F.split(F.col("_t"), " ")).alias("tok")
    ).withColumn("h", F.md5(F.col("tok")))
    bit_votes = [
        F.sum(
            F.when(F.ascii(F.substring(F.col("h"), i + 1, 1)) % 2 == 1, 1).otherwise(-1)
        ).alias(f"v{i}")
        for i in range(16)
    ]
    votes = toks.groupBy("id").agg(*bit_votes)
    code = None
    for i in range(16):
        bit = F.when(F.col(f"v{i}") > 0, F.lit(1 << i)).otherwise(F.lit(0))
        code = bit if code is None else code + bit
    return votes.select("id", code.cast("int").alias("simhash"))
