"""Round-4 pipeline operators: C4 line cleanup, script profiling,
DSIR importance weighting, Bloom frontier membership, integer
PageRank, perceptual-hash Hamming pairs."""

import pytest

from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet")


def test_c4_line_filter_rules(spark):
    from goose_parser_spark.ops.textstats import c4_line_filter
    text = ("First good sentence stays here.\n"
            "short line\n"
            "First good sentence stays here.\n"      # dup of line 1
            "no terminal punctuation on this one\n"
            "Quoted endings also count as terminal\"\n"
            "Second keeper arrives safely!")
    df = spark.createDataFrame([(1, text), (2, "")],
                               "doc_id long, text string")
    out = {r["doc_id"]: r for r in c4_line_filter(df).collect()}
    assert out[1]["clean"] == (
        "First good sentence stays here.\n"
        "Quoted endings also count as terminal\"\n"
        "Second keeper arrives safely!")
    assert out[1]["n_lines"] == 6 and out[1]["n_kept"] == 3
    assert out[2]["clean"] == "" and out[2]["n_kept"] == 0
    # pure projection: no exchange, no Python
    plan = c4_line_filter(df)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan and "Python" not in plan


def test_script_profile_verdicts(spark):
    from goose_parser_spark.ops.textstats import script_profile
    rows = [(1, "plain latin text here"),
            (2, "немного русского текста здесь"),
            (3, "漢字がたくさんある漢字文書"),
            (4, "نص عربي طويل للاختبار هنا"),
            (5, "12345 !!! ...")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r["script_pred"]
           for r in script_profile(df).collect()}
    assert out == {1: "latin", 2: "cyrillic", 3: "han", 4: "arabic",
                   5: "und"}


def test_dsir_logratio_prefers_target_like_docs(spark):
    from goose_parser_spark.ops.sampling import dsir_logratio
    target = spark.createDataFrame(
        [(i, "physics quantum field theory lattice") for i in range(20)],
        "doc_id long, text string")
    raw = spark.createDataFrame(
        [(100, "physics quantum lattice results"),       # target-like
         (101, "celebrity gossip fashion week drama"),   # off-target
         (102, "quantum field lattice physics theory")], # target-like
        "doc_id long, text string")
    out = {r["doc_id"]: r["dsir_micro"]
           for r in dsir_logratio(raw, target, buckets=256).collect()}
    assert out[100] > out[101] and out[102] > out[101]
    # count tables are bucket-bounded → broadcast joins, and the raw
    # side pays no corpus-wide shuffle beyond the per-doc aggregate
    plan = dsir_logratio(raw, target, buckets=256) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_bloom_no_false_negatives_and_fp_rate(spark):
    from goose_parser_spark.ops.bloom import bloom_build, bloom_probe
    seen = spark.range(2000).select(
        F.concat(F.lit("u"), F.col("id").cast("string")).alias("key"))
    bloom = bloom_build(seen, "key", n_words=512, k=3)   # ~15 bits/key
    assert bloom.count() <= 512
    # every inserted key must probe True (no false negatives, ever)
    probed = bloom_probe(seen, bloom, "key", n_words=512, k=3)
    assert probed.where(~F.col("maybe_seen")).count() == 0
    # fresh keys: false-positive rate stays near the design point
    fresh = spark.range(2000).select(
        F.concat(F.lit("x"), F.col("id").cast("string")).alias("key"))
    fp = (bloom_probe(fresh, bloom, "key", n_words=512, k=3)
          .where(F.col("maybe_seen")).count())
    assert fp / 2000 < 0.10, fp
    # probe side is map-only (broadcast joins only), and the k legs
    # SHARE one materialization of the build (cache) — without it each
    # leg re-executes the whole corpus-scanning build aggregation
    plan = bloom_probe(fresh, bloom, "key", n_words=512, k=3) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "InMemoryTableScan" in plan, plan


def test_pagerank_int_hand_computed(spark):
    from goose_parser_spark.ops.linkgraph import pagerank_int
    # 1 → 2, 1 → 3, 2 → 3, 3 → 1 (plus an edge to a node outside ids,
    # which must be dropped)
    ids = spark.createDataFrame([(1,), (2,), (3,)], "doc_id long")
    edges = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 3), (3, 1), (3, 99)], "src long, dst long")
    out = {r["doc_id"]: r["rank_micro"]
           for r in pagerank_int(ids, edges, iterations=1).collect()}
    # r0 = 1e6 each; deg: 1→2, 2→1, 3→1 (edge to 99 dropped)
    # contribs: node2 ← 500000; node3 ← 500000 + 1000000; node1 ← 1000000
    # rank = 150000 + 850*s//1000
    assert out == {1: 150000 + 850 * 1_000_000 // 1000,
                   2: 150000 + 850 * 500_000 // 1000,
                   3: 150000 + 850 * 1_500_000 // 1000}
    # determinism across runs
    again = {r["doc_id"]: r["rank_micro"]
             for r in pagerank_int(ids, edges, iterations=1).collect()}
    assert again == out


def test_pagerank_int_mass_bounded(spark, docs):
    from goose_parser_spark.ops.linkgraph import pagerank_int
    ids = docs.select("doc_id")
    d = F.col("doc_id")
    edges = (docs.select(d.alias("src"), (d * 2 + 1).alias("dst"))
             .unionByName(docs.select(d.alias("src"),
                                      (d + 17).alias("dst"))))
    out = pagerank_int(ids, edges, iterations=3)
    n = docs.count()
    total = out.agg(F.sum("rank_micro")).collect()[0][0]
    # teleport floor ≤ every rank; total mass ≤ n * SCALE (dangling
    # nodes leak mass, so total can only fall below the uniform start)
    assert out.where(F.col("rank_micro") < 150000).count() == 0
    assert total <= n * 1_000_000


def test_phash_hamming_pairs_planted_bits(spark):
    from goose_parser_spark.ops.dedup import hamming_pairs
    from goose_parser_spark.ops.multimodal import phash_stub
    # same payload ⇒ same stub hash; planted XOR masks set the exact
    # Hamming distances
    base = spark.createDataFrame(
        [(i, f"img-{i % 3}".encode(), i % 4) for i in range(12)],
        "doc_id long, payload binary, v int")
    mask = (F.when(F.col("v") == 1, F.lit(3))
            .when(F.col("v") == 2, F.lit(8))
            .when(F.col("v") == 3, F.lit((1 << 40) + (1 << 20) + 5))
            .otherwise(F.lit(0))).cast("long")
    fp = base.select("doc_id", "v",
                     phash_stub(F.col("payload")).bitwiseXOR(mask)
                     .alias("phash"))
    pairs = hamming_pairs(fp.select("doc_id", "phash"), "phash",
                          max_hamming=3, bits=60).collect()
    vs = {r["doc_id"]: r["v"] for r in fp.collect()}
    groups = {r["doc_id"]: r["doc_id"] % 3 for r in fp.collect()}
    got = {(r["doc_a"], r["doc_b"]): r["hamming"] for r in pairs}
    # expected hamming between variant masks (None = excluded > 3)
    H = {(0, 0): 0, (1, 1): 0, (2, 2): 0, (3, 3): 0,
         (0, 1): 2, (0, 2): 1, (1, 2): 3}
    for a in range(12):
        for b in range(a + 1, 12):
            if groups[a] != groups[b]:
                continue  # different base images: far apart (whp)
            key = tuple(sorted((vs[a], vs[b])))
            if key in H:
                assert got.get((a, b)) == H[key], (a, b, key)
            else:
                assert (a, b) not in got, (a, b, key)


def test_line_corpus_dedup_semantics(spark):
    """Banned = non-blank lines in >= K distinct docs; blank lines are
    structural (never counted, never removed); a fully-banned doc
    survives with empty text; line order is preserved."""
    from goose_parser_spark.ops.dedup import line_corpus_dedup
    rows = [
        (1, "SHARED\nunique one\n\nalso unique"),
        (2, "SHARED\nunique two"),
        (3, "SHARED\nunique three"),
        (4, "SHARED"),                  # every line banned -> ""
        (5, "  \nPAIRLINE\nzzz"),       # whitespace-only line survives
        (6, "PAIRLINE\nqqq"),           # PAIRLINE in 2 docs < K=3: kept
        (7, "SHARED\nSHARED\nmid"),     # self-repetition: one doc still
    ]                                   # counts once, line stays banned
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r["doc_id"]: r["text"]
           for r in line_corpus_dedup(df, min_dup_docs=3).collect()}
    assert out[1] == "unique one\n\nalso unique"
    assert out[2] == "unique two"
    assert out[3] == "unique three"
    assert out[4] == ""
    assert out[5] == "  \nPAIRLINE\nzzz"
    assert out[6] == "PAIRLINE\nqqq"
    assert out[7] == "mid"
    assert set(out) == {1, 2, 3, 4, 5, 6, 7}


def test_line_corpus_dedup_threshold_counts_distinct_docs(spark):
    """count_distinct(doc): 5 repetitions inside ONE doc never ban a
    line, but the same line in K distinct docs does."""
    from goose_parser_spark.ops.dedup import line_corpus_dedup
    df = spark.createDataFrame(
        [(1, "x\nx\nx\nx\nx"), (2, "y"), (3, "z")], ["doc_id", "text"])
    out = {r["doc_id"]: r["text"]
           for r in line_corpus_dedup(df, min_dup_docs=2).collect()}
    assert out[1] == "x\nx\nx\nx\nx"   # 1 distinct doc < 2


def test_decontaminate_exact_span_removal(spark):
    """Every training token covered by an eval k-gram is dropped;
    clean docs unchanged; fully-covered docs survive empty; docs
    shorter than k untouched."""
    from goose_parser_spark.ops.dedup import decontaminate_exact
    train = spark.createDataFrame([
        (1, "the quick brown fox jumps over the lazy dog tonight"),
        (2, "completely clean training text with no overlap here"),
        (3, "quick brown fox"),
        (4, "a b"),
    ], ["doc_id", "text"])
    ev = spark.createDataFrame(
        [(100, "we saw the quick brown fox jumps far away")],
        ["doc_id", "text"])
    out = {r["doc_id"]: r
           for r in decontaminate_exact(train, ev, k=3).collect()}
    # eval shares the run "the quick brown fox jumps" -> train 3-grams
    # at i=1,2,3 match -> tokens 1..5 covered
    assert out[1]["text"] == "over the lazy dog tonight"
    assert out[1]["n_removed"] == 5
    assert out[2]["n_removed"] == 0 and out[2]["text"].startswith("completely")
    assert out[3]["text"] == "" and out[3]["n_removed"] == 3
    assert out[4]["text"] == "a b" and out[4]["n_removed"] == 0


def test_perplexity_buckets_terciles(spark):
    """Per-language terciles: each bucket gets ~1/3 of the docs; cut
    points are language-local (a high-ppl lang still has a head)."""
    from goose_parser_spark.ops.textstats import perplexity_buckets
    rows = [(i, "en", i * 10) for i in range(30)]            # 0..290
    rows += [(100 + i, "de", 5000 + i * 10) for i in range(30)]
    df = spark.createDataFrame(rows, "doc_id long, lang string, ppl_micro long")
    out = perplexity_buckets(df).collect()
    from collections import Counter
    en = Counter(r["bucket"] for r in out if r["lang"] == "en")
    de = Counter(r["bucket"] for r in out if r["lang"] == "de")
    assert en["head"] == en["middle"] == en["tail"] == 10
    assert de["head"] == 10          # de's head exists despite high ppl
    by_id = {r["doc_id"]: r["bucket"] for r in out}
    assert by_id[0] == "head" and by_id[29] == "tail"
    assert by_id[100] == "head" and by_id[129] == "tail"


def test_split_sentences_rules(spark):
    from goose_parser_spark.ops.textstats import split_sentences
    df = spark.createDataFrame(
        [(1, "First sentence. Second one! Is this third? yes."),
         (2, "no punctuation at all"),
         (3, "Trailing space after end. ")],
        ["doc_id", "text"])
    out = {}
    for r in split_sentences(df).collect():
        out.setdefault(r["doc_id"], []).append(
            (r["sent_id"], r["sentence"], r["n_tokens"]))
    assert out[1] == [(0, "First sentence.", 2), (1, "Second one!", 2),
                      (2, "Is this third?", 3), (3, "yes.", 1)]
    assert out[2] == [(0, "no punctuation at all", 4)]
    # terminal punctuation at end-of-text: no empty trailing sentence
    assert out[3] == [(0, "Trailing space after end.", 4)]


def test_normalize_text_nfc_composes_combining_marks(spark):
    from goose_parser_spark.ops.textstats import normalize_text_nfc
    rows = [(1, "café naïve"),   # decomposed -> composed
            (2, "plain ascii"),
            (3, None)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r["text"]
           for r in normalize_text_nfc(df).collect()}
    assert out[1] == "café naïve"
    assert out[2] == "plain ascii"
    assert out[3] is None
    # the id column keeps its type (a string id used to fail the job)
    sdf = spark.createDataFrame([("a", "cafe\u0301")],
                                "doc_id string, text string")
    res = normalize_text_nfc(sdf)
    assert res.schema["doc_id"].dataType.simpleString() == "string"
    assert res.collect()[0].asDict() == {"doc_id": "a", "text": "caf\u00e9"}
