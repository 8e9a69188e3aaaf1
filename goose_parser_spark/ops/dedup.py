"""Deduplication operators for web-scale corpora.

Four tiers, all shuffle-conscious:

- :func:`exact_dedup` — hash-groupBy, the cheap first pass.
- :func:`ngram_jaccard_pairs` — exact n-gram Jaccard via a shingle
  self-join; the correctness baseline the approximate methods are
  validated against. Quadratic in the worst case: at 100 TB you run it
  only WITHIN LSH candidate buckets, never globally.
- :func:`minhash_lsh_dedup` — MinHash signatures + banded LSH: the
  scale path. One shuffle to build signatures, one band-bucket join on
  (band, band_hash) — candidates only, verified by exact Jaccard.
- :func:`simhash` — 64-bit SimHash per document; :func:`simhash_pairs`
  — near-dup pairs within Hamming ≤ k via pigeonhole block blocking
  (Manku et al., WWW'07) — exact recall, no all-pairs join.

Everything is deterministic (xxhash64-seeded, no rand()) so re-runs
and resume produce identical clusters. All hot-path expressions are
JVM built-ins — no Python UDFs anywhere in this module.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F


def tokens(col: str | Column) -> Column:
    """Whitespace tokens (literal single-space split, matching the
    DuckDB oracle's string_split)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.split(c, " ")


def shingles(col: str | Column, n: int = 3) -> Column:
    """Word n-gram shingles as an array<string>.

    Pure Catalyst expression — no Python. The words array is bound
    ONCE per row via a 1-element ``transform`` wrapper (``transform(
    array(split(text)), w -> ...)``): Catalyst does not hoist
    loop-invariant sub-expressions out of lambda bodies, so the naive
    ``i -> slice(split(text), i, n)`` form re-splits the text per
    SHINGLE — O(tokens²) splitting, measured 3× slower end-to-end on
    the shingle explode at ~50-token docs and growing with doc length
    (web pages run ~1k tokens — the gap is what makes the hoist a
    100-TB lever, not a micro-opt; round-6 A/B in BENCH/BASELINE.md).
    Documents with fewer than ``n`` tokens yield an empty array.
    """
    name = _sql_name(col)
    # explicit short-doc guard: sequence(1, 0) DESCENDS in Spark
    # (STATE.md r5 gotcha), so the empty case never reaches sequence()
    return F.expr(
        f"flatten(transform(array(split({name}, ' ')), "
        f"w -> if(size(w) < {n}, array(), "
        f"transform(sequence(1, size(w) - {n - 1}), "
        f"i -> concat_ws(' ', slice(w, i, {n}))))))")


def _sql_name(col: str | Column) -> str:
    if isinstance(col, str):
        return col
    raise ValueError("shingles() needs a column NAME for the SQL expr form")


def exact_dedup(df: DataFrame, text_col: str = "text",
                id_col: str = "doc_id") -> DataFrame:
    """Exact dedup: keep the smallest id per identical text.

    One hash-aggregate shuffle on the text hash. At 100 TB, group on
    ``xxhash64(text)`` instead of the full text to keep shuffle rows
    narrow; here we keep the text column for the oracle comparison.
    """
    return (df.groupBy(text_col)
            .agg(F.min(id_col).alias(id_col))
            .select(id_col, text_col))


def ngram_jaccard_pairs(
    df: DataFrame,
    n: int = 3,
    threshold: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """All document pairs with n-gram Jaccard ≥ threshold.

    Plan (r07 restructure; same output bit-for-bit — the value oracle
    replays it): per-doc ``array_distinct`` of the hashed shingles
    (MAP-ONLY — replaces the old corpus-wide ``distinct()`` and its
    two exchanges; per-doc sizes fall out of the same projection with
    no shuffle either) → explode → self-join on the hash → repartition
    the raw pair stream by ``(doc_a, doc_b)`` → count per pair → join
    per-doc sizes → Jaccard filter.

    The explicit repartition BEFORE the pair count is deliberate
    (guide §2.4/§5): the pair stream is quadratically expanded
    (~50× the shingle rows at sf1.0), so a conventional partial
    aggregation sees tens of millions of distinct (doc_a, doc_b) keys
    per task, overflows its hash map and degenerates into external
    sort + spill — measured 21 s vs 14 s for the exchange-first shape,
    which aggregates post-shuffle where each task holds only its own
    key range (small maps, no spill, ~2.4:1 pre-agg reduction was
    never available anyway). The exchange width is derived from the
    session's shuffle parallelism (×4 for the quadratic expansion),
    not a literal constant.

    Every shuffle/join key is the 8-byte ``xxhash64(shingle)`` — never
    the shingle string (~10-40 bytes): at corpus scale the shingle
    table is the widest intermediate in the engine and the hash
    narrows it 3-5×. A cross-shingle hash collision would merge two
    distinct shingles (P ≈ m²/2⁶⁵ for m distinct shingles — below
    1e-6 even at m = 10⁶ per LSH bucket, where this runs at scale).

    Columns: ``doc_a, doc_b, jaccard`` (jaccard rounded to 6 dp for
    cross-engine float stability).
    """
    arr = (df
           .where(F.size(tokens(text_col)) >= n)
           .select(F.col(id_col).alias("doc"),
                   F.array_distinct(
                       F.transform(shingles(text_col, n),
                                   lambda s: F.xxhash64(s))).alias("_sh")))
    sh = arr.select("doc", F.size("_sh").alias("n_sh"),
                    F.explode("_sh").alias("sh"))
    # no shared-shingle semi-join prefilter: df=1 shingles find no join
    # partner anyway, and the prefilter's two extra exchanges cost more
    # than the unique rows they remove from the join input (measured).
    a = sh.alias("a")
    b = sh.alias("b")
    # r07: each side's distinct-shingle COUNT rides the pair stream as
    # an extra int (the explode projection above computes it for free)
    # and joins the GROUP KEY — (doc, n_sh) is functional, so the
    # groups are unchanged, and the Jaccard filter runs directly on
    # the aggregate output with ZERO post-aggregation joins. The
    # previous shape joined the per-doc sizes onto the ~100M-row
    # aggregated pair table; at sandbox scale AQE broadcasts the
    # 50k-doc sizes table and the two joins are cheap (measured:
    # within noise of this shape), but at corpus scale the sizes
    # table exceeds any broadcast budget and those joins become TWO
    # more full shuffles of the quadratic output. This shape's only
    # added cost is two ints on the pair-stream exchange —
    # corpus-linear and bounded at every scale (guide §2.3/§3.3).
    pairs = (a.join(b, on="sh")
             .where(F.col("a.doc") < F.col("b.doc"))
             .select(F.col("a.doc").alias("doc_a"),
                     F.col("b.doc").alias("doc_b"),
                     F.col("a.n_sh").alias("n_a"),
                     F.col("b.n_sh").alias("n_b")))
    try:
        base_parallelism = int(
            df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    except (TypeError, ValueError):
        base_parallelism = df.sparkSession.sparkContext.defaultParallelism
    common = (pairs.repartition(4 * base_parallelism, "doc_a", "doc_b")
              .groupBy("doc_a", "doc_b", "n_a", "n_b")
              .agg(F.count("*").alias("n_common")))
    out = (common
           .withColumn("jaccard", F.round(
               F.col("n_common") /
               (F.col("n_a") + F.col("n_b") - F.col("n_common")), 6))
           .where(F.col("jaccard") >= threshold)
           .select("doc_a", "doc_b", "jaccard"))
    return out


def paragraph_dup_stats(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    sep: str | None = None,
    chunk_words: int = 10,
) -> DataFrame:
    """Sub-document exact dedup stats: per-document fraction of units
    that occur more than once in the CORPUS (the paragraph-dedup
    signal Dolma/RefinedWeb-style pipelines filter on — public
    knowledge; repeated boilerplate paragraphs mark low-quality docs).

    ``sep`` (e.g. ``"\\n"``) splits on a paragraph boundary; with
    ``sep=None`` units are non-overlapping ``chunk_words``-word chunks
    (the boundary-free corpus case). Plan: explode units → one global
    hash-agg on the unit (at 100 TB: on ``xxhash64(unit)`` — 8-byte
    shuffle rows) → join occurrence counts back → per-doc aggregate.
    Self-repetition inside one document counts as duplication (it is
    the repetition signal). No broadcast hints — AQE decides.

    Columns: ``doc_id, n_units, n_dup_units, dup_ratio``. Documents
    with zero units (empty text) are absent from the output.
    """
    c = F.col(text_col)
    if sep is not None:
        units_col = F.filter(F.split(c, sep), lambda u: F.trim(u) != "")
    else:
        w = F.filter(F.split(c, " "), lambda x: x != "")
        n_chunks = F.ceil(F.size(w) / F.lit(chunk_words)).cast("int")
        units_col = F.when(F.size(w) >= 1, F.transform(
            F.sequence(F.lit(0), n_chunks - 1),
            lambda i: F.concat_ws(
                " ", F.slice(w, i * chunk_words + 1, chunk_words)),
        )).otherwise(F.array().cast("array<string>"))
    u = df.select(F.col(id_col), F.explode(units_col).alias("unit"))
    occ = u.groupBy("unit").agg(F.count("*").alias("occ"))
    return (u.join(occ, "unit")
            .groupBy(id_col)
            .agg(F.count("*").alias("n_units"),
                 F.count(F.when(F.col("occ") > 1, 1)).alias("n_dup_units"))
            .withColumn("dup_ratio",
                        F.round(F.col("n_dup_units") / F.col("n_units"), 4))
            .select(id_col, "n_units", "n_dup_units", "dup_ratio"))


def line_corpus_dedup(
    df: DataFrame,
    min_dup_docs: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Corpus-level line dedup (the RefinedWeb/CCNet pass — public
    knowledge: lines repeated across many pages are boilerplate —
    nav bars, cookie banners, footers — and get REMOVED from every
    document, not just flagged): drop each non-blank line that occurs
    in ≥ ``min_dup_docs`` distinct documents, reassemble the surviving
    lines in original order.

    Plan (three narrow stages, no corpus-sized build side anywhere):
    posexplode lines → global hash-agg of ``approx? no — exact``
    distinct-doc counts keyed on ``xxhash64(line)`` (8-byte shuffle
    rows, never the line text) → left-anti join the exploded lines
    against the banned-key set → per-doc ordered reassembly
    (``sort_array(collect_list(struct(pos, line)))`` — one shuffle by
    doc id). Blank/whitespace-only lines are structural, never counted
    and never removed. The banned set is bounded by the number of
    DISTINCT lines crossing the threshold (boilerplate vocabulary ≪
    corpus); no broadcast hint — AQE decides.

    Documents are preserved even when every line is banned (empty
    string) — downstream length filters decide their fate explicitly.

    Columns: ``doc_id, text``.
    """
    lines = df.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), "\n")).alias("pos", "line"),
    )
    key = F.xxhash64(F.col("line"))
    banned = (lines
              .where(F.trim(F.col("line")) != "")
              .groupBy(key.alias("k"))
              .agg(F.count_distinct(F.col(id_col)).alias("nd"))
              .where(F.col("nd") >= min_dup_docs)
              .select("k"))
    kept = (lines
            .withColumn("k", key)
            .join(banned, on="k", how="left_anti"))
    rebuilt = (kept.groupBy(id_col)
               .agg(F.array_join(
                   F.transform(
                       F.sort_array(F.collect_list(
                           F.struct(F.col("pos"), F.col("line")))),
                       lambda s: s["line"]),
                   "\n").alias(text_col)))
    # a doc whose every line was banned has no surviving rows to group
    # — re-attach it with empty text (id-only projection, narrow join)
    return (df.select(id_col).join(rebuilt, on=id_col, how="left")
            .select(F.col(id_col),
                    F.coalesce(F.col(text_col), F.lit("")).alias(text_col)))


def _seeded_hash(col: Column, seed: int, hash_mode: str) -> Column:
    """Seeded hash used by the minhash family. ``xxhash64`` (default):
    64-bit long, JVM-side, the production scale path — TWO-LEVEL: the
    input string is hashed ONCE to a base long, and the k seeded
    values hash the 8-byte base. Catalyst's subexpression elimination
    evaluates the shared base a single time per row, so the per-row
    cost is 1 string hash + k long hashes instead of k string hashes —
    measured 30%% faster on the signature aggregate at 1.15M docs
    (the hash family changes with this scheme: a standing minhash
    index built before it must be rebuilt — the index carries the
    engine version for exactly this reason). ``md5``: 32-char hex
    STRING — slower, but byte-reproducible in any engine
    (lexicographic order on fixed-width hex == numeric order, so
    min()/banding semantics are identical); the mode the DuckDB
    correctness oracle can replay exactly."""
    if hash_mode == "xxhash64":
        return F.xxhash64(F.xxhash64(col), F.lit(seed))
    if hash_mode == "md5":
        return F.md5(F.concat(F.lit(f"{seed}:"), col))
    raise ValueError(f"unknown hash_mode: {hash_mode!r}")


def _plain_hash(col: Column, hash_mode: str) -> Column:
    if hash_mode == "xxhash64":
        return F.xxhash64(col)
    if hash_mode == "md5":
        return F.md5(col)
    raise ValueError(f"unknown hash_mode: {hash_mode!r}")


def minhash_signature(
    df: DataFrame,
    n: int = 3,
    num_hashes: int = 32,
    text_col: str = "text",
    id_col: str = "doc_id",
    hash_mode: str = "xxhash64",
) -> DataFrame:
    """MinHash signatures: ``num_hashes`` min-values of seeded
    xxhash64 over the shingle set. One explode + one groupBy; the k
    hash functions are k aggregate expressions in a single pass, and
    map-side partial aggregation means the exchange carries only k
    longs per doc per map partition — NOT the shingles (those explode
    and fold away map-side, inside whole-stage codegen).

    Deliberately NOT the "shuffle-free" array_min(transform(...))
    projection: higher-order functions evaluate interpreted and are
    invisible to common-subexpression elimination, so after projection
    collapse every downstream consumer re-builds the shingle array per
    hash function — measured 10× slower than this explode form. The
    explode keeps shingle construction at once-per-doc and the hashing
    in codegen.

    NO distinct() before the aggregate: min() over duplicate shingles
    equals min() over the distinct set, and the distinct would add a
    real shuffle of shingle strings."""
    sh = (df
          .where(F.size(tokens(text_col)) >= n)
          .select(F.col(id_col).alias("doc"),
                  F.explode(shingles(text_col, n)).alias("sh")))
    aggs = [F.min(_seeded_hash(F.col("sh"), i, hash_mode)).alias(f"h{i}")
            for i in range(num_hashes)]
    sig = sh.groupBy("doc").agg(*aggs)
    return sig.select("doc", F.array(*[f"h{i}" for i in range(num_hashes)])
                      .alias("signature"))


def minhash_lsh_dedup(
    df: DataFrame,
    n: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    threshold: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
    hash_mode: str = "xxhash64",
) -> DataFrame:
    """MinHash + banded LSH near-dup pairs, verified by exact Jaccard.

    ``bands`` bands of ``num_hashes/bands`` rows; docs sharing any
    band hash become candidates (join key ``(band, band_hash)`` — a
    narrow shuffle of a few longs per doc, never the text). Candidates
    are then verified with exact n-gram Jaccard so the output equals
    :func:`ngram_jaccard_pairs` restricted to LSH candidates — at high
    signature width the two converge, which the test suite asserts.

    Verification is PER CANDIDATE PAIR (``array_intersect`` over each
    side's distinct hashed-shingle array), not a shingle self-join
    over candidate docs: the self-join re-derives every co-shingle
    pair among candidate-touched documents, which at aggressive
    banding (r=1) or on dup-heavy crawls approaches the quadratic
    blow-up LSH exists to avoid. Pair-wise verify costs
    O(|candidate pairs| · doc_len) and is strictly scale-safer.
    (r07 note: an inline-verify variant that carried the shingle
    arrays through the band join was A/B-tested for the r=1
    candidate-flood regime and measured SLOWER even with chunked
    skew-splitting — 25 s vs 15 s at the sf1.0-scale corpus — because
    the per-collision ``array_intersect`` work exceeds the shuffle it
    saves; the candidate-distinct shape spreads that work evenly.)

    Columns: ``doc_a, doc_b, jaccard``.
    """
    if num_hashes % bands != 0:
        raise ValueError("num_hashes must be divisible by bands")
    rows_per_band = num_hashes // bands
    sig = minhash_signature(df, n=n, num_hashes=num_hashes,
                            text_col=text_col, id_col=id_col,
                            hash_mode=hash_mode)

    def band_hash(bi: int) -> Column:
        vals = [F.col("signature")[bi * rows_per_band + r]
                for r in range(rows_per_band)]
        if hash_mode == "md5":
            # concat in seed order: reproducible as string_agg(...
            # ORDER BY seed) in the oracle
            return F.md5(F.concat_ws("|", *vals))
        return F.xxhash64(*vals)

    band_cols = F.array(*[
        F.struct(F.lit(bi).alias("band"), band_hash(bi).alias("bh"))
        for bi in range(bands)
    ])

    banded = (sig.select("doc", F.explode(band_cols).alias("b"))
              .select("doc", F.col("b.band").alias("band"),
                      F.col("b.bh").alias("bh")))
    cand = (banded.alias("x").join(banded.alias("y"), on=["band", "bh"])
            .where(F.col("x.doc") < F.col("y.doc"))
            .select(F.col("x.doc").alias("doc_a"),
                    F.col("y.doc").alias("doc_b"))
            .distinct())
    # (r07 note: skipping this distinct in the r=1 regime and
    # deduping only the threshold-passing verify output was A/B'd —
    # duplication is just 1.19× there, so it looked like a saved
    # quadratic exchange — and measured 3× SLOWER end-to-end: the
    # verify joins over the un-materialized collision stream lose the
    # accurate post-distinct stats AQE plans the join strategy from.
    # Distinct-first stays in both regimes.)

    # Exact-Jaccard verification per candidate pair only — the LSH
    # point at scale: shingle arrays are materialized just for
    # candidate-touched docs, and each pair is scored independently.
    # No cache(): nothing would unpersist it, so every call would pin
    # its candidate table for the life of the session.
    # r07: in the r=1 candidate-FLOOD regime the candidate-doc set is
    # derived from the BANDED table, not the pair stream — a doc is
    # candidate-touched exactly when one of its (band, band_hash)
    # groups has a second member, so ``group size ≥ 2`` over the
    # corpus×bands-linear banded rows gives the IDENTICAL set the
    # union-of-pair-sides distinct produced, without exchanging the
    # quadratic candidate stream again (measured ~4 s at the
    # sf1.0-scale corpus, where r=1 candidates touch nearly every
    # doc). With SELECTIVE banding (r ≥ 2) candidates are rare and
    # the pair-side distinct is nearly free, while the banded-group
    # path would execute the signature aggregate one more time —
    # measured +1.4 s warm on dedup_minhash_lsh — so each regime
    # keeps its cheaper shape (guide §2.3: decide membership on
    # whichever metadata table is narrow in that regime).
    if rows_per_band == 1:
        grp = banded.groupBy("band", "bh").agg(F.count("*").alias("_gn"))
        cand_docs = (banded.join(grp.where(F.col("_gn") >= 2),
                                 on=["band", "bh"])
                     .select(F.col("doc").alias(id_col))
                     .distinct())
    else:
        cand_docs = (cand.select(F.col("doc_a").alias(id_col))
                     .union(cand.select(F.col("doc_b").alias(id_col)))
                     .distinct())
    # left-semi join, no broadcast hint: on dup-heavy web crawls
    # (30-50% near-dup rate) the candidate universe is a large fraction
    # of the corpus — forcing a broadcast would OOM. AQE picks
    # broadcast at runtime when cand_docs is actually small.
    restricted = df.join(cand_docs, on=id_col, how="left_semi")
    return verify_pairs_jaccard(cand, restricted, n=n,
                                threshold=threshold, text_col=text_col,
                                id_col=id_col, hash_mode=hash_mode)


def verify_pairs_jaccard(
    pairs: DataFrame,
    df: DataFrame,
    n: int = 3,
    threshold: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
    a_col: str = "doc_a",
    b_col: str = "doc_b",
    hash_mode: str = "xxhash64",
) -> DataFrame:
    """Exact n-gram Jaccard for an explicit pair list: join each side's
    distinct hashed-shingle ARRAY onto the pair and ``array_intersect``
    — numerically identical to :func:`ngram_jaccard_pairs` (same
    hashed distinct shingles, same 6-dp rounding) but with cost
    proportional to the pair list, never to co-shingle pair counts.
    Returns ``(a_col, b_col, jaccard)`` filtered to ≥ threshold."""
    sh_arr = (df.where(F.size(tokens(text_col)) >= n)
              .select(F.col(id_col),
                      F.array_distinct(
                          F.transform(shingles(text_col, n),
                                      lambda s: _plain_hash(s, hash_mode)))
                      .alias("_sh")))
    a = sh_arr.select(F.col(id_col).alias(a_col), F.col("_sh").alias("_sa"))
    b = sh_arr.select(F.col(id_col).alias(b_col), F.col("_sh").alias("_sb"))
    inter = F.size(F.array_intersect(F.col("_sa"), F.col("_sb")))
    return (pairs.join(a, on=a_col).join(b, on=b_col)
            .withColumn("_c", inter)
            .withColumn("jaccard", F.round(
                F.col("_c") /
                (F.size("_sa") + F.size("_sb") - F.col("_c")), 6))
            .where(F.col("jaccard") >= threshold)
            .select(a_col, b_col, "jaccard"))


def keep_canonical(
    df: DataFrame,
    clusters: DataFrame,
    id_col: str = "doc_id",
) -> DataFrame:
    """Apply the dedup keep-policy: retain only each cluster's
    canonical (smallest-id) document. ``clusters`` is
    :func:`connected_components` output ``(doc_id, canonical_id)``.
    One anti-join on the id — no hint, AQE decides."""
    # Anti-join on the NON-canonical ids: that side is bounded by the
    # dup count (often a small fraction of the corpus), whereas a
    # semi-join on the keep list carries corpus-sized build sides.
    # No hint — AQE broadcasts the drop list when it is small.
    drop_ids = (clusters.where(F.col(id_col) != F.col("canonical_id"))
                .select(id_col))
    return df.join(drop_ids, on=id_col, how="left_anti")


def connected_components(
    ids: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    a_col: str = "doc_a",
    b_col: str = "doc_b",
    max_iterations: int = 50,
) -> DataFrame:
    """Near-dup clusters: min-label propagation over the pair graph.

    Returns ``(doc_id, canonical_id)`` for EVERY id in ``ids``
    (singletons map to themselves); ``canonical_id`` is the smallest id
    in the component — the survivor a dedup keep-policy retains.

    r07 restructure — contraction CC (the classic MapReduce-CC shape,
    Kiveris et al. "Connected Components in MapReduce and Beyond"):
    the old one-hop min-label loop needed DIAMETER rounds (41 measured
    on the sf1.0-scale embedding dup graph — chained near-dup
    clusters — at ~0.3 s of per-round job latency each). Each phase
    now (1) hangs every node off the minimum of its closed
    neighborhood (one aggregate), (2) pointer-doubles that parent
    forest to its roots (``lab ← lab(lab)`` until fixpoint —
    O(log depth) self-joins of the bounded label table), (3) folds the
    root mapping into the cumulative labels, and (4) CONTRACTS the
    graph: edges re-keyed to root ids, self-loops dropped, distinct.
    Node count shrinks geometrically (every edge merges ≥ 2 nodes into
    one root), so the outer loop runs O(log n) phases — 2-3 in
    practice; the measured sf1.0 loop went from 41 × 0.3 s to ~8 small
    jobs. Correctness: labels only decrease and every label is always
    the id of a node in the same component (parents are neighborhood
    minima; roots are tree members; contraction preserves component
    structure), so the fixpoint assigns every node its component's
    minimum id — identical output to the propagation loop, re-verified
    by tools/equiv_snapshot.py and the driver oracle gate.

    The loop tables stay bounded by the DUP GRAPH (2·|pairs|), never
    the corpus: the contracted edge set only shrinks, and the corpus
    is visited exactly once, by the final singleton-assembly join
    (singletons can never receive a smaller label, so looping them is
    pure waste). localCheckpoint per step truncates the iterative
    lineage (exponential plan growth / Catalyst OOM otherwise).
    Deterministic.
    """
    # Materialize the (usually expensive) pair plan ONCE before the
    # symmetric union: unioning two projections of the raw `pairs`
    # plan re-executes its whole upstream (LSH verify joins …) for
    # each leg — checkpointing the narrow (src, dst) projection first
    # halves the edge-build cost (VERDICT r03 #6).
    p = (pairs.select(F.col(a_col).alias("src"), F.col(b_col).alias("dst"))
         .localCheckpoint())
    edges = p.union(p.select(F.col("dst").alias("src"),
                             F.col("src").alias("dst")))
    labels = (edges.select(F.col("src").alias("node")).distinct()
              .withColumn("label", F.col("node")).localCheckpoint())
    cur = edges
    budget = max_iterations
    while budget > 0:
        budget -= 1
        # (1) parent: min of the closed neighborhood (edges are
        # symmetric, so min(src) grouped by dst covers all neighbors)
        par = (cur.groupBy(F.col("dst").alias("node"))
               .agg(F.min("src").alias("nmin"))
               .select("node",
                       F.least(F.col("node"), F.col("nmin")).alias("lab"))
               .localCheckpoint())
        # (2) pointer-double the parent forest to its roots; the lazy
        # checkpoint + changed-count is ONE job per doubling round
        while budget > 0:
            budget -= 1
            m = par.select(F.col("node").alias("_jn"),
                           F.col("lab").alias("_jl"))
            stepped = (par.join(m, par.lab == F.col("_jn"), "left")
                       .select(F.col("node"),
                               F.coalesce(F.col("_jl"), F.col("lab"))
                                .alias("lab"),
                               (F.coalesce(F.col("_jl"), F.col("lab"))
                                < F.col("lab")).alias("_ch"))
                       ).localCheckpoint(eager=False)
            changed = stepped.where(F.col("_ch")).count()
            par = stepped.drop("_ch")
            if changed == 0:
                break
        # (3) fold the root mapping into the cumulative labels: every
        # current label is a node of `cur`'s level (or an already-final
        # root that no longer appears — left join keeps it)
        rootmap = par.select(F.col("node").alias("_pn"),
                             F.col("lab").alias("_pl"))
        labels = (labels.join(rootmap, labels.label == F.col("_pn"),
                              "left")
                  .select(F.col("node"),
                          F.coalesce(F.col("_pl"), F.col("label"))
                           .alias("label"))
                  .localCheckpoint())
        # (4) contract: re-key edges to root ids, drop intra-root
        # edges; the result is symmetric because `cur` is
        sa = par.select(F.col("node").alias("src"),
                        F.col("lab").alias("la"))
        sb = par.select(F.col("node").alias("dst"),
                        F.col("lab").alias("lb"))
        nxt = (cur.join(sa, on="src").join(sb, on="dst")
               .where(F.col("la") != F.col("lb"))
               .select(F.col("la").alias("src"), F.col("lb").alias("dst"))
               .distinct()
               .localCheckpoint(eager=False))
        if nxt.isEmpty():
            break
        cur = nxt
    return (ids.select(F.col(id_col))
            .join(labels.withColumnRenamed("node", id_col),
                  on=id_col, how="left")
            .select(F.col(id_col),
                    F.coalesce(F.col("label"), F.col(id_col))
                     .alias("canonical_id")))


def simhash(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 64,
    hash_mode: str = "xxhash64",
) -> DataFrame:
    """64-bit SimHash per document, fully JVM-side.

    Per token: xxhash64 → for each bit, +1/-1 vote; sign of the summed
    vote becomes the output bit. One explode + one groupBy with
    ``bits`` small aggregate expressions (map-side combined).

    ``hash_mode='md5'``: the token hash becomes the first 15 hex chars
    of md5 parsed as a 60-bit integer — byte-reproducible in DuckDB
    (hex-digit arithmetic), so the fingerprint algorithm itself can
    sit under a hard value oracle; pass ``bits=60`` with it. The
    xxhash64 default stays the production path.

    Columns: ``doc_id, simhash`` (long).
    """
    if hash_mode == "md5":
        if bits > 60:
            raise ValueError("md5 mode carries 60 hash bits; pass bits<=60")
        h = F.conv(F.substring(F.md5(F.col("t")), 1, 15), 16, 10) \
            .cast("long")
    elif hash_mode == "xxhash64":
        h = F.xxhash64("t")
    else:
        raise ValueError(f"unknown hash_mode: {hash_mode!r}")
    tok = (df.select(F.col(id_col), F.explode(tokens(text_col)).alias("t"))
           .withColumn("h", h))
    # vote_i = (+1 per set bit, -1 per clear bit) = 2*sum(bit_i) - n:
    # plain bit-extraction sums (branch-free, codegen-friendly) plus
    # one count replace 64 conditional aggregates — identical votes.
    votes = [
        F.sum(F.shiftright("h", i).bitwiseAND(F.lit(1))).alias(f"s{i}")
        for i in range(bits)
    ]
    agg = tok.groupBy(id_col).agg(F.count("*").alias("_n"), *votes)
    # Full width: bit 63's weight in a signed long is -2^63 (two's
    # complement), so the top bit is emitted without overflow and
    # bits=64 really yields 64 effective bits (ADVICE r01).
    out_bits = [
        F.when(F.col(f"s{i}") * 2 > F.col("_n"),
               F.lit(-(1 << i) if i == 63 else (1 << i)).cast("long"))
        .otherwise(F.lit(0).cast("long"))
        for i in range(bits)
    ]
    total = out_bits[0]
    for ob in out_bits[1:]:
        total = total + ob
    return agg.select(F.col(id_col), total.alias("simhash"))


def simhash_pairs(
    df: DataFrame,
    max_hamming: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 64,
) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance ≤ ``max_hamming``.

    Blocking is the pigeonhole scheme from Manku et al. (WWW'07,
    "Detecting Near-Duplicates for Web Crawling"): split the ``bits``-
    wide fingerprint into ``max_hamming + 1`` disjoint blocks — any
    pair within Hamming distance k differs in at most k blocks, so it
    must agree EXACTLY on at least one block. Join on
    ``(block_index, block_value)``, then verify with
    ``bit_count(a XOR b) <= k``. 100% recall by construction (asserted
    against brute force in tests), never an all-pairs join: the only
    shuffles are a narrow (int, long) candidate join and one
    fingerprint lookup join. No broadcast hints — AQE decides.

    Columns: ``doc_a, doc_b, hamming``.
    """
    if max_hamming < 0:
        raise ValueError("max_hamming must be >= 0")
    fp = simhash(df, text_col=text_col, id_col=id_col, bits=bits)
    return hamming_pairs(fp, fp_col="simhash", id_col=id_col,
                         max_hamming=max_hamming, bits=bits)


def hamming_pairs(
    fp: DataFrame,
    fp_col: str,
    id_col: str = "doc_id",
    max_hamming: int = 3,
    bits: int = 64,
) -> DataFrame:
    """Pigeonhole-blocked Hamming-distance pair join over ANY 64-bit
    fingerprint column (SimHash, perceptual image hash, …) — the
    generic core of :func:`simhash_pairs` (Manku WWW'07 blocking: a
    pair within Hamming k must agree exactly on one of k+1 disjoint
    blocks; 100%% recall by construction, never an all-pairs join).

    Columns: ``doc_a, doc_b, hamming``.
    """
    if max_hamming < 0:
        raise ValueError("max_hamming must be >= 0")
    nblocks = max_hamming + 1
    width = bits // nblocks
    blocks = []
    for bi in range(nblocks):
        lo = bi * width
        # last block absorbs the remainder bits
        w = bits - lo if bi == nblocks - 1 else width
        mask = (1 << w) - 1
        blocks.append(F.struct(
            F.lit(bi).alias("blk"),
            F.shiftrightunsigned(F.col(fp_col), lo)
             .bitwiseAND(F.lit(mask)).alias("bv"),
        ))
    banded = (fp.select(id_col, fp_col,
                        F.explode(F.array(*blocks)).alias("b"))
              .select(F.col(id_col).alias("doc"), F.col(fp_col).alias("_fp"),
                      F.col("b.blk").alias("blk"), F.col("b.bv").alias("bv")))
    a = banded.alias("a")
    b = banded.alias("b")
    out = (a.join(b, on=["blk", "bv"])
           .where(F.col("a.doc") < F.col("b.doc"))
           .select(F.col("a.doc").alias("doc_a"),
                   F.col("b.doc").alias("doc_b"),
                   F.bit_count(F.col("a._fp")
                               .bitwiseXOR(F.col("b._fp")))
                    .alias("hamming"))
           .where(F.col("hamming") <= max_hamming)
           .distinct())
    return out


def substring_dedup_exact(
    df: DataFrame,
    k: int = 50,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Corpus-INTERNAL exact duplicate-substring removal — the
    distributed counterpart of Lee et al. 2022 ("Deduplicating
    Training Data Makes Language Models Better") ExactSubstr: any
    token run of ≥ k tokens that occurs more than once in the corpus
    (across documents or within one) is kept ONLY at its canonical
    occurrence — the minimal ``(doc_id, position)`` — and removed
    everywhere else. The paper builds a suffix array; at cluster scale
    a token-k-gram grid is the shuffle-friendly equivalent: a
    duplicated run of length L ≥ k is covered by L−k+1 duplicated
    k-grams, so every token of each NON-canonical copy sits under a
    non-canonical gram occurrence and is removed, while the canonical
    copy's grams are all rank-1 and survive. Resolution is k (runs
    shorter than k are never touched); periodic text self-overlaps
    collapse to their first period, same as the suffix-array method.

    Plan (never all-pairs, never text on a shuffle): posexplode word
    k-grams once to ``(g=md5-16, doc_id, i)``; one hash-agg per gram —
    ``min(struct(doc_id, i))`` + count, map-side combined, so a
    boilerplate gram with millions of occurrences still arrives at
    the reducer as partial minima, not a sorted window partition;
    join occurrences back on ``g`` (AQE handles residual skew), keep
    rank>1 occurrences as removal spans; fold to ONE sorted
    span-start array per doc; removal is then a pure projection
    (higher-order filter), exactly like
    :func:`decontaminate_exact`'s tail.

    A fully-duplicated document survives with empty text (drops stay
    explicit downstream). Columns: ``doc_id, text, n_removed``.
    """
    gram = lambda s: F.substring(F.md5(s), 1, 16)  # noqa: E731
    occ = (df.where(F.size(tokens(text_col)) >= k)
           .select(F.col(id_col),
                   F.posexplode(shingles(text_col, k)).alias("p0", "s"))
           .select(id_col, (F.col("p0") + 1).alias("i"),
                   gram(F.col("s")).alias("g")))
    canon = (occ.groupBy("g")
             .agg(F.min(F.struct(F.col(id_col), F.col("i"))).alias("_c"),
                  F.count("*").alias("_n"))
             .where(F.col("_n") > 1)
             .select("g", "_c"))
    spans = (occ.join(canon, on="g")
             .where(F.struct(F.col(id_col), F.col("i")) != F.col("_c"))
             .groupBy(id_col)
             .agg(F.sort_array(F.collect_set("i")).alias("_mi")))
    w = F.split(F.col(text_col), " ")
    out = df.join(spans, on=id_col, how="left")
    mi = F.coalesce(F.col("_mi"), F.array().cast("array<int>"))
    kept = F.filter(
        w, lambda tok, idx: ~F.exists(
            mi, lambda m: (m >= idx + 1 - (k - 1)) & (m <= idx + 1)))
    return (out.select(
        F.col(id_col),
        F.array_join(kept, " ").alias(text_col),
        (F.size(w) - F.size(kept)).alias("n_removed")))


def winnow_fingerprints(
    df: DataFrame,
    k: int = 3,
    window: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken,
    SIGMOD'03 — the MOSS algorithm): hash every word k-gram, slide a
    ``window`` over consecutive hashes, keep the minimum of each
    window, dedup. Guarantees: any shared run of ≥ window+k-1 words
    between two documents produces at least one SHARED fingerprint, so
    an equi-join on ``fp`` finds local (passage-level) overlap — the
    plagiarism/quotation/contamination detector exact dedup misses.

    All Catalyst: md5-hex-prefix hashes (bit-identical in the DuckDB
    oracle — lexicographic string min == numeric min on fixed-width
    hex), one Generate for the explode; at 100 TB the downstream
    fp-join shuffles only (fp, doc_id) pairs, never text.
    Columns: ``doc_id, fp``.
    """
    hashes = F.transform(shingles(text_col, k),
                         lambda s: F.substring(F.md5(s), 1, 16))
    df_h = df.select(F.col(id_col), hashes.alias("_h"))
    nwin = F.size(F.col("_h")) - (window - 1)
    fps = F.when(nwin >= 1, F.transform(
        F.sequence(F.lit(1), nwin),
        lambda i: F.array_min(F.slice(F.col("_h"), i, window))))
    return (df_h.select(F.col(id_col),
                        F.explode(F.array_distinct(fps)).alias("fp")))


def decontaminate_exact(
    train: DataFrame,
    eval_df: DataFrame,
    k: int = 13,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """REMOVE eval-overlapping spans from training text (the
    GPT-3-style exact n-gram decontamination — public knowledge:
    training documents are scrubbed of any k-gram that appears in an
    evaluation set, k=13 in the original recipe; here k is a
    parameter so tests can exercise short planted overlaps).

    Every training token covered by ANY k-gram that also occurs in
    ``eval_df`` is dropped; the survivors are rejoined in order.
    Documents with no overlap pass through unchanged; a fully-covered
    document survives with empty text (parallel to
    :func:`line_corpus_dedup` — drops stay explicit downstream).

    Plan: the eval k-gram set is one distinct hash-agg (bounded by the
    EVAL corpus — small next to training data; no broadcast hint, AQE
    decides). Training k-grams posexplode once, inner-join the eval
    set, and fold back to ONE sorted match-position array per
    contaminated doc — the only shuffles carry 16-char hashes and
    integer positions, never text. Span removal is then a pure
    projection: filter tokens whose position falls inside any matched
    window (higher-order ``exists`` over the per-doc match array,
    which is empty for the overwhelming majority of docs).

    Columns: ``doc_id, text, n_removed`` (tokens dropped).
    """
    gram = lambda s: F.substring(F.md5(s), 1, 16)  # noqa: E731
    eval_grams = (eval_df
                  .where(F.size(tokens(text_col)) >= k)
                  .select(F.explode(shingles(text_col, k)).alias("s"))
                  .select(gram(F.col("s")).alias("g"))
                  .distinct())
    tr_grams = (train
                .where(F.size(tokens(text_col)) >= k)
                .select(F.col(id_col),
                        F.posexplode(shingles(text_col, k))
                        .alias("p0", "s"))
                .select(id_col, (F.col("p0") + 1).alias("i"),
                        gram(F.col("s")).alias("g")))
    matched = (tr_grams.join(eval_grams, on="g")
               .groupBy(id_col)
               .agg(F.sort_array(F.collect_set("i")).alias("_mi")))
    w = F.split(F.col(text_col), " ")
    out = train.join(matched, on=id_col, how="left")
    mi = F.coalesce(F.col("_mi"), F.array().cast("array<int>"))
    kept = F.filter(
        w, lambda tok, idx: ~F.exists(
            mi, lambda m: (m >= idx + 1 - (k - 1)) & (m <= idx + 1)))
    return (out.select(
        F.col(id_col),
        F.array_join(kept, " ").alias(text_col),
        (F.size(w) - F.size(kept)).alias("n_removed")))


def contamination_pairs(
    train: DataFrame,
    eval_df: DataFrame,
    k: int = 3,
    window: int = 4,
    min_shared: int = 1,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Train/eval DECONTAMINATION: which eval documents share passages
    with which training documents. Winnow-fingerprint both corpora and
    equi-join on the fingerprint — any shared run of ≥ window+k-1
    words is guaranteed to collide (the winnowing coverage property),
    so benchmark leakage cannot hide from this join the way it hides
    from whole-document dedup.

    Scale shape: two map-only fingerprint passes, one narrow
    (fp → ids) shuffle join, one pair-count agg; shuffle rows are
    (16-hex-char, id) pairs, never text. ``min_shared`` filters to
    pairs sharing at least that many distinct fingerprints.
    Columns: ``eval_id, train_id, n_shared_fps``.
    """
    t = (winnow_fingerprints(train, k=k, window=window,
                             text_col=text_col, id_col=id_col)
         .select(F.col(id_col).alias("train_id"), "fp"))
    e = (winnow_fingerprints(eval_df, k=k, window=window,
                             text_col=text_col, id_col=id_col)
         .select(F.col(id_col).alias("eval_id"), "fp"))
    return (e.join(t, on="fp")
            .groupBy("eval_id", "train_id")
            .agg(F.count("*").alias("n_shared_fps"))
            .where(F.col("n_shared_fps") >= min_shared))


def build_minhash_index(
    df: DataFrame,
    n: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Materializable LSH index: ``(band, bh, doc)`` rows — the table
    an incremental pipeline keeps alongside the corpus (write it
    partitioned/bucketed by ``(band, bh)``; an increment then prunes
    to matching buckets instead of rescanning the corpus). A doc
    contributes ``bands`` narrow long rows, never text."""
    if num_hashes % bands != 0:
        raise ValueError("num_hashes must be divisible by bands")
    rows_per_band = num_hashes // bands
    sig = minhash_signature(df, n=n, num_hashes=num_hashes,
                            text_col=text_col, id_col=id_col)
    band_cols = F.array(*[
        F.struct(
            F.lit(bi).alias("band"),
            F.xxhash64(*[F.col("signature")[bi * rows_per_band + r]
                         for r in range(rows_per_band)]).alias("bh"),
        )
        for bi in range(bands)
    ])
    return (sig.select("doc", F.explode(band_cols).alias("b"))
            .select(F.col("b.band").alias("band"),
                    F.col("b.bh").alias("bh"), "doc"))


def dedup_against_index(
    new_docs: DataFrame,
    index: DataFrame,
    corpus: DataFrame,
    n: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    threshold: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """INCREMENTAL dedup — the production shape: a daily increment is
    checked against the standing corpus WITHOUT re-pairing the corpus
    with itself. The increment's band hashes join the stored
    :func:`build_minhash_index` (at 100 TB that join prunes to
    matching ``(band, bh)`` buckets of the index table); only matched
    corpus docs are pulled for exact-Jaccard verification.

    Returns ``(new_id, corpus_id, jaccard)`` — increment docs that
    near-duplicate something already in the corpus (drop them, or
    route to the keep-policy). Cost is proportional to the INCREMENT
    and its collisions, never corpus².
    """
    new_bands = build_minhash_index(new_docs, n=n, num_hashes=num_hashes,
                                    bands=bands, text_col=text_col,
                                    id_col=id_col)
    cand = (new_bands.alias("nw")
            .join(index.alias("ix"), on=["band", "bh"])
            .select(F.col("nw.doc").alias("new_id"),
                    F.col("ix.doc").alias("corpus_id"))
            .distinct())
    # exact verification over the matched docs only (ids are disjoint
    # across increment and corpus, so one unioned doc table serves
    # both sides of the pair; not cached, as in minhash_lsh_dedup)
    new_r = new_docs.join(cand.select(F.col("new_id").alias(id_col))
                          .distinct(), on=id_col, how="left_semi")
    corp_r = corpus.join(cand.select(F.col("corpus_id").alias(id_col))
                         .distinct(), on=id_col, how="left_semi")
    union_docs = (new_r.select(id_col, text_col)
                  .unionByName(corp_r.select(id_col, text_col)))
    return verify_pairs_jaccard(cand, union_docs, n=n,
                                threshold=threshold, text_col=text_col,
                                id_col=id_col,
                                a_col="new_id", b_col="corpus_id")
