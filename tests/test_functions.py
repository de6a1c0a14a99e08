"""Training-data function tests: dedup, similarity, textstats, multimodal."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ilogtail_spark.functions.dedup import (
    exact_dedup,
    minhash_lsh_pairs,
    minhash_signatures,
    ngram_jaccard_pairs,
    simhash,
    simhash_pairs,
)
from ilogtail_spark.functions.multimodal import (
    extract_features,
    frame_sample_plan,
    synthetic_media,
)
from ilogtail_spark.functions.similarity import brute_force_topk, lsh_bucket_topk
from ilogtail_spark.functions.textstats import (
    bpe_ish_token_count,
    fingerprint,
    lang_id,
    quality_score,
    token_count,
)

DOC_SCHEMA = "doc_id long, text string"


@pytest.fixture(scope="module")
def dup_docs(spark):
    base = "the quick brown fox jumps over the lazy dog again and again today"
    near = "the quick brown fox jumps over the lazy dog again and again tomorrow"
    rows = [
        (1, base),
        (2, base),          # exact dup of 1
        (3, near),          # near dup of 1
        (4, "completely different text about spark shuffles and partitions"),
        (5, "unrelated short snippet"),
    ]
    return spark.createDataFrame(rows, DOC_SCHEMA).cache()


class TestDedup:
    def test_exact(self, dup_docs):
        out = {r["doc_id"]: r["dup_count"] for r in exact_dedup(dup_docs).collect()}
        assert out[1] == 2  # ids 1,2 collapse, min id kept
        assert sum(out.values()) == 5

    def test_jaccard_finds_near_dup(self, dup_docs):
        pairs = ngram_jaccard_pairs(dup_docs, threshold=0.5).collect()
        got = {(r["id_a"], r["id_b"]) for r in pairs}
        assert (1, 2) in got  # exact dup: jaccard 1.0
        assert (1, 3) in got and (2, 3) in got  # near dup
        assert not any({a, b} & {4, 5} and {a, b} & {1, 2, 3} for a, b in got)

    def test_jaccard_unpackable_ids_match_packed(self, dup_docs):
        """The packed-long pair key applies only to bigint ids whose
        span fits the bijection; int ids (and any future wide-span
        corpus) take the two-column fallback. Both paths must produce
        identical pairs."""
        from pyspark.sql import functions as F

        packed = {
            (r["id_a"], r["id_b"]): r["jaccard"]
            for r in ngram_jaccard_pairs(dup_docs, threshold=0.3).collect()
        }
        int_docs = dup_docs.withColumn("doc_id", F.col("doc_id").cast("int"))
        fallback = {
            (r["id_a"], r["id_b"]): r["jaccard"]
            for r in ngram_jaccard_pairs(int_docs, threshold=0.3).collect()
        }
        assert packed == fallback and packed

    def test_jaccard_packed_key_fails_on_moved_ids(self, spark, dup_docs):
        """The packed pair key is built from id bounds taken in an eager
        query. Ids that differ in the pair query (here: offset by
        current_timestamp(), which Spark fixes per query) would pack into
        other pairs' keys; they raise instead."""
        from pyspark.sql import functions as F

        moving = dup_docs.withColumn(
            "doc_id", F.unix_micros(F.current_timestamp()) + F.col("doc_id"))
        pairs = ngram_jaccard_pairs(moving, threshold=0.5)
        with pytest.raises(Exception, match="left the bounds"):
            pairs.collect()

    def test_minhash_exact_dup_estimates_one(self, dup_docs):
        sigs = {r["doc_id"]: r["minhash"] for r in minhash_signatures(dup_docs).collect()}
        assert sigs[1] == sigs[2]
        assert len(sigs[1]) == 64

    def test_minhash_lsh_finds_dups(self, dup_docs):
        pairs = {(r["id_a"], r["id_b"]): r["est_jaccard"]
                 for r in minhash_lsh_pairs(dup_docs, threshold=0.5).collect()}
        assert pairs[(1, 2)] == 1.0
        assert (1, 3) in pairs

    def test_simhash_identical_and_near(self, dup_docs):
        h = {r["doc_id"]: r["simhash"] for r in simhash(dup_docs).collect()}
        assert h[1] == h[2]
        ham13 = bin(h[1] ^ h[3]).count("1")
        ham14 = bin(h[1] ^ h[4]).count("1")
        assert ham13 < ham14  # near dup closer than unrelated
        pairs = {(r["id_a"], r["id_b"]) for r in simhash_pairs(dup_docs, max_hamming=0).collect()}
        assert (1, 2) in pairs


class TestSimilarity:
    def test_brute_force_identical_vector_ranks_first(self, spark):
        rows = [
            (0, [1.0, 0.0, 0.0]),
            (1, [1.0, 0.0, 0.0]),   # identical to 0
            (2, [0.0, 1.0, 0.0]),
            (3, [0.7, 0.7, 0.0]),
        ]
        emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
        qs = emb.filter(F.col("vec_id") == 0)
        out = brute_force_topk(emb, qs, k=3).orderBy("rank").collect()
        assert out[0]["n_id"] == 1 and out[0]["cos_sim"] == 1.0
        assert out[1]["n_id"] == 3

    def test_ivf_finds_identical_vector(self, spark):
        from ilogtail_spark.functions.similarity import ivf_topk

        # (i+j)%7 repeats every 7 ids: vecs 5,12,19,26 are identical, plus
        # the planted copy 100 — all must surface with cosine 1.0
        rows = [(i, [float((i + j) % 7) for j in range(8)]) for i in range(32)]
        rows.append((100, rows[5][1]))  # identical to vec 5
        emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
        qs = emb.filter(F.col("vec_id") == 5)
        out = ivf_topk(emb, qs, k=4, n_centroids=4, n_probes=2).orderBy("rank").collect()
        assert {r["n_id"] for r in out} == {12, 19, 26, 100}
        assert all(r["cos_sim"] == 1.0 for r in out)

    def test_lsh_buckets_identical_together(self, spark):
        rows = [(i, [float(i % 3 == 0), float(i % 3 == 1), float(i % 3 == 2)])
                for i in range(9)]
        emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
        qs = emb.filter(F.col("vec_id") == 0)
        out = lsh_bucket_topk(emb, qs, k=2, n_planes=4).collect()
        # identical vectors (3, 6) share 0's bucket and rank top with cos 1.0
        top = [r for r in out if r["rank"] == 1][0]
        assert top["cos_sim"] == 1.0 and top["n_id"] in (3, 6)


class TestIvfWriteTime:
    """assign_centroids is the write-time IVF path: a corpus written
    partitionBy(centroid) serves probe queries with PARTITION PRUNING —
    the scan touches only the probed lists, which is the whole point of
    IVF at 100 TB."""

    def test_partition_pruning_on_probed_lists(self, spark, tmp_path):
        from ilogtail_spark.functions.similarity import assign_centroids, ivf_topk

        rows = [(i, [float((i * 13 + j * 7) % 11 - 5) for j in range(8)])
                for i in range(64)]
        emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
        cents = [(int(r["vec_id"]), [float(x) for x in r["embedding"]])
                 for r in sorted(emb.filter(F.col("vec_id") < 4).collect(),
                                 key=lambda r: r["vec_id"])]
        path = str(tmp_path / "ivf_corpus")
        assign_centroids(emb, cents).write.partitionBy("centroid").parquet(path)

        stored = spark.read.parquet(path)
        # the assignment column matches the online kernel's choice
        online = ivf_topk(emb, emb.filter(F.col("vec_id") == 0), k=3,
                          centroids=cents)
        assert online.count() == 3

        probed = stored.filter(F.col("centroid").isin([0, 2]))
        import io
        from contextlib import redirect_stdout

        buf = io.StringIO()
        with redirect_stdout(buf):
            probed.explain("formatted")
        plan = buf.getvalue()
        # the probe filter must reach the scan as a PartitionFilter —
        # a post-scan Filter over all partitions misses the point
        assert "PartitionFilters" in plan and "centroid" in plan.split(
            "PartitionFilters", 1
        )[1].split("\n")[0]
        # pruning is real: only the probed lists' rows are read
        full = {r["centroid"] for r in stored.select("centroid").distinct().collect()}
        assert len(full) > 2
        assert probed.count() < stored.count()
        assert {r["centroid"] for r in probed.select("centroid").distinct().collect()} <= {0, 2}


class TestEmbeddingDedup:
    def test_exact_and_lsh_tiers(self, spark):
        from ilogtail_spark.functions.similarity import (
            embedding_cosine_pairs,
            embedding_cosine_pairs_lsh,
        )

        rows = [
            (0, [1.0, 0.0, 0.0]),
            (1, [0.999, 0.01, 0.0]),   # near-dup of 0
            (2, [0.0, 1.0, 0.0]),
            (3, [0.0, 0.99, 0.1]),     # near-dup of 2
        ]
        emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
        exact = {(r["id_a"], r["id_b"]) for r in
                 embedding_cosine_pairs(emb, threshold=0.95).collect()}
        assert exact == {(0, 1), (2, 3)}
        lsh = {(r["id_a"], r["id_b"]) for r in
               embedding_cosine_pairs_lsh(emb, threshold=0.95, n_planes=2).collect()}
        assert lsh <= exact  # no false positives (exact verify step)

    def test_multi_table_pairs_lift_recall_monotonically(self, spark):
        """OR-amplification in the PAIR form: more tables find a
        superset of a single table's pairs, never exceed the exact set,
        and each pair is emitted ONCE even when it collides in several
        tables."""
        import math

        from ilogtail_spark.functions.similarity import (
            embedding_cosine_pairs,
            embedding_cosine_pairs_lsh,
        )

        # 15 base directions + a planted cos≈0.9 partner for each
        a = 0.9 / math.sqrt(1 - 0.81)
        rows = []
        for i in range(15):
            v = [math.sin(i * 1.7 + j) for j in range(8)]
            w = [math.cos(i * 2.3 + 5 * j + 1) for j in range(8)]
            nv = math.sqrt(sum(x * x for x in v))
            nw = math.sqrt(sum(x * x for x in w))
            rows.append((i, v))
            rows.append((100 + i, [a * v[j] + (nv / nw) * w[j] for j in range(8)]))
        emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
        exact = {(r["id_a"], r["id_b"]) for r in
                 embedding_cosine_pairs(emb, threshold=0.8).collect()}
        got = {}
        for t in (1, 3):
            rows_t = embedding_cosine_pairs_lsh(
                emb, threshold=0.8, n_planes=6, n_tables=t, dim=8
            ).collect()
            pairs_t = [(r["id_a"], r["id_b"]) for r in rows_t]
            assert len(pairs_t) == len(set(pairs_t)), "duplicate pair emitted"
            got[t] = set(pairs_t)
        assert got[1] <= got[3] <= exact
        assert len(got[3]) >= len(got[1])


class TestTextstats:
    def test_token_counts(self, spark):
        df = spark.createDataFrame([(1, "  a bb  ccc  ")], DOC_SCHEMA)
        out = bpe_ish_token_count(token_count(df)).first()
        assert out["n_tokens"] == 3
        assert out["n_bpe_tokens"] == 3

    def test_quality_monotonic(self, spark):
        good = "the cat sat on the mat and it was a good day for all of us here"
        bad = "$$$ ### !!! @@@"
        df = spark.createDataFrame([(1, good), (2, bad)], DOC_SCHEMA)
        out = {r["doc_id"]: r["quality_score"] for r in quality_score(df).collect()}
        assert out[1] > out[2]

    def test_lang_id(self, spark):
        df = spark.createDataFrame(
            [(1, "the cat is on the mat and it is a cat"),
             (2, "der hund ist im haus und das ist ein hund"),
             (3, "xyzzy plugh")],
            DOC_SCHEMA,
        )
        out = {r["doc_id"]: r["lang_pred"] for r in lang_id(df).collect()}
        assert out == {1: "en", 2: "de", 3: "und"}

    def test_lang_id_trigram_mode(self, spark):
        df = spark.createDataFrame(
            [(1, "the thing and the other thing of interest"),
             (2, "der schoene hund und die schoene katze ein wunder"),
             (3, "zzz qqq")],
            DOC_SCHEMA,
        )
        out = {r["doc_id"]: r["lang_pred"]
               for r in lang_id(df, mode="trigram").collect()}
        assert out == {1: "en", 2: "de", 3: "und"}

    def test_kgram_fingerprints_copy_detection(self, spark):
        from ilogtail_spark.functions.textstats import kgram_fingerprints

        shared = "alpha beta gamma delta epsilon zeta eta theta"
        rows = [
            (1, shared + " unique tail one two three"),
            (2, "different head four five " + shared),
            (3, "totally unrelated words here nothing shared at all ok"),
        ]
        df = spark.createDataFrame(rows, DOC_SCHEMA)
        out = {r["doc_id"]: set(r["fingerprints"])
               for r in kgram_fingerprints(df, k=4, mod_p=2).collect()}
        # overlapping passage ⇒ shared fingerprints regardless of position
        assert out[1] & out[2]
        assert not (out[1] & out[3])
        # deterministic
        out2 = {r["doc_id"]: set(r["fingerprints"])
                for r in kgram_fingerprints(df, k=4, mod_p=2).collect()}
        assert out == out2

    def test_fingerprint_deterministic_order_sensitive(self, spark):
        df = spark.createDataFrame(
            [(1, "a b c"), (2, "a b c"), (3, "c b a")], DOC_SCHEMA
        )
        out = {r["doc_id"]: r["fingerprint"] for r in fingerprint(df).collect()}
        assert out[1] == out[2]
        assert out[1] != out[3]  # position-weighted


class TestCorpusDiff:
    def test_statuses(self, spark):
        from ilogtail_spark.functions.dedup import corpus_diff

        old = spark.createDataFrame(
            [(1, "same"), (2, "will change"), (3, "will vanish")], DOC_SCHEMA
        )
        new = spark.createDataFrame(
            [(1, "same"), (2, "changed!"), (4, "brand new")], DOC_SCHEMA
        )
        out = {r["doc_id"]: r["status"] for r in corpus_diff(old, new).collect()}
        assert out == {2: "changed", 3: "removed", 4: "added"}

    def test_include_unchanged(self, spark):
        from ilogtail_spark.functions.dedup import corpus_diff

        old = spark.createDataFrame([(1, "same")], DOC_SCHEMA)
        new = spark.createDataFrame([(1, "same")], DOC_SCHEMA)
        rows = corpus_diff(old, new, include_unchanged=True).collect()
        assert len(rows) == 1 and rows[0]["status"] == "unchanged"
        assert rows[0]["old_md5"] == rows[0]["new_md5"]
        assert corpus_diff(old, new).count() == 0


class TestCountMinSketch:
    def test_overestimate_never_under(self, spark):
        from ilogtail_spark.functions.textstats import (
            cms_estimate,
            count_min_sketch,
            tokens,
        )

        docs = [(i, f"w{i % 7} w{i % 3} common") for i in range(40)]
        df = spark.createDataFrame(docs, DOC_SCHEMA)
        tok = df.select(F.explode(tokens(F.col("text"))).alias("token"))
        tf = tok.groupBy("token").agg(F.count(F.lit(1)).alias("tf"))
        # width 4 → guaranteed collisions over the 8-token vocab
        sketch = count_min_sketch(df, depth=3, width=4)
        est = cms_estimate(sketch, tf, depth=3, width=4).collect()
        assert len(est) == 8
        assert all(r["cms_count"] >= r["tf"] for r in est)
        assert any(r["cms_count"] > r["tf"] for r in est)

    def test_exact_when_wide(self, spark):
        from ilogtail_spark.functions.textstats import (
            cms_estimate,
            count_min_sketch,
            tokens,
        )

        df = spark.createDataFrame([(1, "a b a c a b")], DOC_SCHEMA)
        tok = df.select(F.explode(tokens(F.col("text"))).alias("token"))
        tf = tok.groupBy("token").agg(F.count(F.lit(1)).alias("tf"))
        # 3 tokens, width 4096, depth 4 → collision probability ~0:
        # the sketch answers exactly
        sketch = count_min_sketch(df, depth=4, width=4096)
        est = cms_estimate(sketch, tf, depth=4, width=4096).collect()
        assert {r["token"]: r["cms_count"] for r in est} == {
            "a": 3, "b": 2, "c": 1
        }
        assert all(r["cms_count"] == r["tf"] for r in est)

    def test_sketch_is_parameter_bounded_and_mergeable(self, spark):
        from ilogtail_spark.functions.textstats import (
            cms_estimate,
            count_min_sketch,
        )

        half1 = spark.createDataFrame([(1, "x y x")], DOC_SCHEMA)
        half2 = spark.createDataFrame([(2, "x z")], DOC_SCHEMA)
        both = half1.unionByName(half2)
        s1 = count_min_sketch(half1, depth=2, width=8)
        s2 = count_min_sketch(half2, depth=2, width=8)
        merged = (
            s1.unionByName(s2)
            .groupBy("row", "bucket")
            .agg(F.sum("cnt").alias("cnt"))
        )
        direct = count_min_sketch(both, depth=2, width=8)
        assert merged.count() <= 2 * 8
        a = {(r["row"], r["bucket"]): r["cnt"] for r in merged.collect()}
        b = {(r["row"], r["bucket"]): r["cnt"] for r in direct.collect()}
        assert a == b  # shard-merge == single pass, counter for counter
        q = spark.createDataFrame([("x",), ("z",)], "token string")
        est = {
            r["token"]: r["cms_count"]
            for r in cms_estimate(merged, q, depth=2, width=8).collect()
        }
        assert est["x"] >= 3 and est["z"] >= 1


class TestHllSketch:
    def _est(self, spark, values, p, groups=None):
        from ilogtail_spark.functions.textstats import hll_estimate, hll_sketch

        if groups is None:
            df = spark.createDataFrame([(v,) for v in values], "v string")
            gc = ()
        else:
            df = spark.createDataFrame(
                list(zip(groups, values)), "g string, v string"
            )
            gc = ("g",)
        sk = hll_sketch(df, "v", p=p, group_cols=gc)
        rows = hll_estimate(sk, p=p, group_cols=gc).collect()
        if groups is None:
            return rows[0]["approx_distinct"]
        return {r["g"]: r["approx_distinct"] for r in rows}

    def test_accuracy_large_n(self, spark):
        # 50k distinct values at p=8 (m=256): std error 1.04/sqrt(256)
        # = 6.5%; assert within 3 sigma
        est = self._est(spark, [f"val-{i}" for i in range(50_000)], p=8)
        assert abs(est - 50_000) / 50_000 < 0.20

    def test_linear_counting_small_n(self, spark):
        # n=30 << m=256 → linear-counting branch; typically exact-ish
        est = self._est(spark, [f"v{i}" for i in range(30)], p=8)
        assert abs(est - 30) < 5

    def test_duplicates_do_not_inflate(self, spark):
        vals = [f"v{i % 20}" for i in range(5000)]
        est = self._est(spark, vals, p=8)
        assert abs(est - 20) < 4

    def test_groups_independent(self, spark):
        vals = [f"v{i}" for i in range(200)] + [f"w{i % 10}" for i in range(200)]
        grps = ["a"] * 200 + ["b"] * 200
        est = self._est(spark, vals, p=8, groups=grps)
        assert abs(est["a"] - 200) / 200 < 0.25
        assert abs(est["b"] - 10) < 4

    def test_shard_merge_equals_single_pass(self, spark):
        from pyspark.sql import functions as F

        from ilogtail_spark.functions.textstats import hll_estimate, hll_sketch

        all_vals = [f"item-{i}" for i in range(2000)]
        h1 = spark.createDataFrame([(v,) for v in all_vals[:1200]], "v string")
        h2 = spark.createDataFrame([(v,) for v in all_vals[800:]], "v string")
        both = spark.createDataFrame([(v,) for v in all_vals], "v string")
        merged = (
            hll_sketch(h1, "v", p=6)
            .unionByName(hll_sketch(h2, "v", p=6))
            .groupBy("j")
            .agg(F.max("reg").alias("reg"))
        )
        a = hll_estimate(merged, p=6).first()["approx_distinct"]
        b = hll_estimate(hll_sketch(both, "v", p=6), p=6).first()[
            "approx_distinct"
        ]
        assert a == b  # register-max merge is LOSSLESS, not approximate


class TestLineDedup:
    def _run(self, spark, rows, **kw):
        from ilogtail_spark.functions.dedup import line_dedup

        df = spark.createDataFrame(rows, DOC_SCHEMA)
        return {
            r["doc_id"]: r["text"]
            for r in line_dedup(df, **kw).collect()
        }

    def test_keep_first_occurrence_globally(self, spark):
        rows = [
            (1, "shared line\nunique a"),
            (2, "unique b\nshared line"),
        ]
        out = self._run(spark, rows)
        # doc 1 has the smaller (id, pos) → keeps the shared line
        assert out == {1: "shared line\nunique a", 2: "unique b"}

    def test_drop_all_copies(self, spark):
        rows = [(1, "dup\nkeep1"), (2, "dup\nkeep2")]
        out = self._run(spark, rows, keep_first=False)
        assert out == {1: "keep1", 2: "keep2"}

    def test_order_preserved_after_removal(self, spark):
        rows = [(1, "a\nb\nc"), (2, "x\nb\ny")]
        out = self._run(spark, rows, keep_first=False)
        assert out == {1: "a\nc", 2: "x\ny"}

    def test_doc_of_only_dups_disappears(self, spark):
        rows = [(1, "dup1\ndup2"), (2, "dup1\ndup2")]
        out = self._run(spark, rows, keep_first=False)
        assert out == {}

    def test_min_count_threshold(self, spark):
        rows = [(1, "twice"), (2, "twice"), (3, "thrice"),
                (4, "thrice"), (5, "thrice")]
        out = self._run(spark, rows, min_count=3, keep_first=False)
        # 'twice' is under the threshold, survives everywhere
        assert out == {1: "twice", 2: "twice"}

    def test_normalize_mode(self, spark):
        rows = [(1, "Same Line "), (2, "same line")]
        out = self._run(spark, rows, normalize=True)
        assert out == {1: "Same Line "}  # first copy keeps ORIGINAL text

    def test_regex_metachar_separator(self, spark):
        # ADVICE r6: split side is a Java regex, join side is literal —
        # a '.' or '|' separator must round-trip as a LITERAL
        rows = [(1, "a.b.c"), (2, "x.b.y")]
        out = self._run(spark, rows, sep=".", keep_first=False)
        assert out == {1: "a.c", 2: "x.y"}
        out = self._run(spark, [(1, "a|b"), (2, "c|b")], sep="|", keep_first=False)
        assert out == {1: "a", 2: "c"}


class TestGopherRules:
    def _rows(self, spark, rows, **kw):
        from ilogtail_spark.functions.textstats import gopher_rules

        df = spark.createDataFrame(rows, DOC_SCHEMA)
        return {r["doc_id"]: r.asDict() for r in gopher_rules(df, **kw).collect()}

    def test_good_doc_keeps(self, spark):
        good = " ".join(
            ["the quick brown fox jumps over and that lazy dog runs off with"]
            * 10
        )
        out = self._rows(spark, [(1, good)], min_words=50)
        assert out[1]["keep"] is True
        assert out[1]["n_words"] == 130
        assert out[1]["stopword_hits"] >= 2

    def test_word_count_bounds(self, spark):
        out = self._rows(spark, [(1, "too few words")], min_words=50)
        assert out[1]["r_word_count"] is False and out[1]["keep"] is False

    def test_bullet_and_ellipsis_fractions(self, spark):
        text = "- one bullet line\n- another bullet\nplain line\ntrails off..."
        out = self._rows(spark, [(1, text)], min_words=1)
        r = out[1]
        assert r["bullet_line_frac"] == 0.5
        assert r["ellipsis_line_frac"] == 0.25
        assert r["r_bullet"] is True  # 0.5 <= 0.9 default
        assert r["r_ellipsis"] is True  # 0.25 <= 0.3 default

    def test_symbol_ratio_and_alpha(self, spark):
        out = self._rows(
            spark,
            [(1, "### ## 12 34 word")],
            min_words=1,
            symbols=("#",),
        )
        r = out[1]
        assert r["symbol_word_ratio"] == 1.0  # 5 '#' over 5 words
        assert r["r_symbol"] is False  # > 0.1 default
        assert r["alpha_word_frac"] == 0.2
        assert r["r_alpha"] is False

    def test_mean_word_len(self, spark):
        out = self._rows(spark, [(1, "aa bbbb")], min_words=1)
        assert out[1]["mean_word_len"] == 3.0

    def test_stopword_floor_distinct_not_total(self, spark):
        # 'the' repeated counts once — the rule needs 2 DISTINCT hits
        out = self._rows(spark, [(1, "the the the the xyz")], min_words=1)
        assert out[1]["stopword_hits"] == 1
        assert out[1]["r_stopwords"] is False


class TestPngCodec:
    """Pure-Python PNG codec (stdlib zlib): round-trips for every
    scanline filter, HAND-BUILT known-answer streams (so a symmetric
    encoder/decoder sign error cannot cancel), RGBA decode, and clean
    rejection of unsupported variants."""

    def _img(self, h, w):
        import numpy as np

        return np.fromfunction(
            lambda y, x, c: (y * 7 + x * 13 + c * 29) % 256, (h, w, 3)
        ).astype(np.uint8)

    def test_roundtrip_all_filters(self):
        import numpy as np

        from ilogtail_spark.functions.multimodal import decode_png, encode_png

        img = self._img(9, 13)
        for ft in range(5):
            out = decode_png(encode_png(img, filter_type=ft))
            assert (out == img).all(), f"filter {ft}"
        # 1-pixel edge case
        one = np.array([[[1, 2, 3]]], dtype=np.uint8)
        for ft in range(5):
            assert (decode_png(encode_png(one, filter_type=ft)) == one).all()

    def _hand_png(self, w, h, color_type, bpp, rows):
        """Assemble a PNG from RAW filtered scanlines (spec layout)."""
        import struct
        import zlib

        def chunk(typ, data):
            return (struct.pack(">I", len(data)) + typ + data
                    + struct.pack(">I", zlib.crc32(typ + data) & 0xFFFFFFFF))

        ihdr = struct.pack(">IIBBBBB", w, h, 8, color_type, 0, 0, 0)
        return (b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
                + chunk(b"IDAT", zlib.compress(b"".join(rows)))
                + chunk(b"IEND", b""))

    def test_hand_built_sub_and_up_vectors(self):
        """Spec-computed reconstructions: row 0 Sub-filtered, row 1
        Up-filtered, values hand-derived from RFC 2083 §6.3-6.5."""
        import numpy as np

        from ilogtail_spark.functions.multimodal import decode_png

        # 2x2 RGB. Raw row 0: (10,20,30),(15,25,35) → Sub deltas:
        # first pixel verbatim, second = raw - left = (5,5,5)
        row0 = bytes([1, 10, 20, 30, 5, 5, 5])
        # Raw row 1: (12,22,32),(18,28,38) → Up deltas vs row 0:
        # (2,2,2),(3,3,3)
        row1 = bytes([2, 2, 2, 2, 3, 3, 3])
        png = self._hand_png(2, 2, 2, 3, [row0, row1])
        out = decode_png(png)
        expect = np.array(
            [[[10, 20, 30], [15, 25, 35]], [[12, 22, 32], [18, 28, 38]]],
            dtype=np.uint8,
        )
        assert (out == expect).all()

    def test_hand_built_paeth_vector(self):
        """Paeth row: predictor picks a/b/c by minimum distance —
        hand-traced for a 2x2 image (second row Paeth-filtered)."""
        import numpy as np

        from ilogtail_spark.functions.multimodal import decode_png

        # row 0 (None): (100,0,50),(110,0,60)
        row0 = bytes([0, 100, 0, 50, 110, 0, 60])
        # raw row 1: (105,5,55),(115,6,65)
        # pixel 0: a=0,b=row0px0,c=0 → p=b → pred=b=(100,0,50); filt=(5,5,5)
        # pixel 1: a=(105,5,55), b=(110,0,60), c=(100,0,50)
        #   p = a+b-c = (115,5,65); |p-a|=(10,0,10) |p-b|=(5,5,5) |p-c|=(15,5,15)
        #   ch0: pa=10,pb=5,pc=15 → b=110; ch1: pa=0 → a=5; ch2: pa=10,pb=5 → b=60
        #   pred=(110,5,60); filt = raw-pred = (5,1,5)
        row1 = bytes([4, 5, 5, 5, 5, 1, 5])
        out = decode_png(self._hand_png(2, 2, 2, 3, [row0, row1]))
        expect = np.array(
            [[[100, 0, 50], [110, 0, 60]], [[105, 5, 55], [115, 6, 65]]],
            dtype=np.uint8,
        )
        assert (out == expect).all()

    def test_rgba_decodes_alpha_dropped(self):
        import numpy as np

        from ilogtail_spark.functions.multimodal import decode_png

        # 1x2 RGBA, filter 0: (1,2,3,255), (4,5,6,128)
        row = bytes([0, 1, 2, 3, 255, 4, 5, 6, 128])
        out = decode_png(self._hand_png(2, 1, 6, 4, [row]))
        assert (out == np.array([[[1, 2, 3], [4, 5, 6]]], dtype=np.uint8)).all()

    def test_unsupported_variants_rejected(self):
        import pytest as _pytest

        from ilogtail_spark.functions.multimodal import decode_png

        with _pytest.raises(ValueError, match="bad signature"):
            decode_png(b"notapng")
        # palette (color type 3) rejected with a clear message
        row = bytes([0, 0])
        with _pytest.raises(ValueError, match="unsupported PNG variant"):
            decode_png(self._hand_png(1, 1, 3, 1, [row]))

    def test_crc_verified(self):
        import pytest as _pytest

        from ilogtail_spark.functions.multimodal import decode_png, encode_png

        png = bytearray(encode_png(self._img(3, 3)))
        png[40] ^= 0xFF  # corrupt a data byte without fixing the CRC
        with _pytest.raises(ValueError, match="CRC"):
            decode_png(bytes(png))

    def test_decode_image_dispatches_png(self):
        import numpy as np

        from ilogtail_spark.functions.multimodal import decode_image, encode_png

        img = self._img(4, 6)
        assert (decode_image(encode_png(img)) == img).all()
        arr = np.asarray(decode_image(encode_png(img, filter_type=4)))
        assert arr.shape == (4, 6, 3)


class TestMultimodal:
    def test_feature_extraction_shape(self, spark):
        m = synthetic_media(spark, 12)
        f = extract_features(m, feature_dim=8).collect()
        assert len(f) == 12
        for r in f:
            assert len(r["feature"]) == 8
            assert r["n_bytes"] > 0
            assert r["kind"] in ("image", "audio", "video")

    def test_features_deterministic(self, spark):
        m = synthetic_media(spark, 6)
        a = sorted(map(str, extract_features(m).collect()))
        b = sorted(map(str, extract_features(m).collect()))
        assert a == b

    def test_frame_plan_only_videos(self, spark):
        m = synthetic_media(spark, 12)
        plan = frame_sample_plan(m, every_ms=1000)
        vids = set(r["media_id"] for r in plan.collect())
        kinds = {r["media_id"]: r["kind"] for r in m.collect()}
        assert all(kinds[v] == "video" for v in vids)

    def test_ivf_trained_centroids_recall(self, spark, dup_docs):
        from ilogtail_spark.functions.similarity import (
            brute_force_topk,
            ivf_topk,
            train_centroids,
        )

        emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
        qs = emb.filter("vec_id < 3")
        cents = train_centroids(emb, 8, sample_rows=512, iters=5)
        assert len(cents) == 8
        # deterministic
        assert cents == train_centroids(emb, 8, sample_rows=512, iters=5)
        exact = {(r["q_id"], r["n_id"]) for r in brute_force_topk(emb, qs, k=5).collect()}
        got = {(r["q_id"], r["n_id"])
               for r in ivf_topk(emb, qs, k=5, n_centroids=8, n_probes=3,
                                 centroids=cents).collect()}
        recall = len(exact & got) / len(exact)
        assert recall >= 0.4  # probe-bounded ANN; trained coarse quantizer

    def test_resize_rewrites_payload_and_meta(self, spark):
        from ilogtail_spark.functions.multimodal import resize_media

        m = synthetic_media(spark, 9)
        out = resize_media(m, 32, 16).collect()
        assert len(out) == 9
        for r in out:
            assert len(r["payload"]) == 32 * 16
            assert r["meta"]["width"] == 32 and r["meta"]["height"] == 16
            assert r["meta"]["codec"] in ("bmp", "opus", "bmps")  # preserved

    def test_sample_frames_real_bmps_decode(self, spark):
        """Default (fake=False) frame sampling REALLY seeks the BMPS
        container: the frame at ts must decode to the per-frame fill
        color the generator used (frame index = ts // 1000)."""
        import numpy as np

        from ilogtail_spark.functions.multimodal import (
            _frame_rgb,
            decode_bmp,
            sample_frames,
        )

        m = synthetic_media(spark, 12)
        rows = sample_frames(m, every_ms=5000).collect()
        assert rows
        for r in rows:
            px = decode_bmp(bytes(r["frame"]))
            assert px.shape == (4, 4, 3)
            expect = _frame_rgb(r["media_id"], r["frame_ts_ms"] // 1000)
            assert (px == np.array(expect, dtype=np.uint8)).all(), r
        # deterministic across runs
        f2 = sorted(map(str, sample_frames(m, every_ms=5000).collect()))
        assert sorted(map(str, rows)) == f2

    def test_sample_frames_fake_slice_kernel(self, spark):
        from ilogtail_spark.functions.multimodal import sample_frames

        m = synthetic_media(spark, 12)
        one = sample_frames(m, every_ms=5000, fake=True).first()
        assert len(one["frame"]) == 64


class TestUnknownFormatRejection:
    def test_non_bmps_video_payload_raises_clearly(self, spark):
        """Compressed video (h264 etc.) has no codec in this container —
        a non-BMPS payload must fail with the named reason, never emit a
        fake frame silently."""
        import pytest

        from ilogtail_spark.functions.multimodal import sample_frames

        df = spark.createDataFrame(
            [(1, "video", bytearray(b"\x00\x00\x00\x18ftypmp42-not-bmps"),
              (64, 64, 3000, "h264"))],
            "media_id long, kind string, payload binary, "
            "meta struct<width:int,height:int,duration_ms:int,codec:string>",
        )
        with pytest.raises(Exception, match="BMPS"):
            sample_frames(df, every_ms=1000).collect()


class TestBmpCodec:
    """The real image path: pure-Python BMP encode/decode, pinned by
    hand-built bytes (independent of encode_bmp) and round-trips."""

    def test_round_trip(self):
        import numpy as np

        from ilogtail_spark.functions.multimodal import decode_bmp, encode_bmp

        rng = np.random.RandomState(7)
        # widths 5 and 6: row sizes 15→16 and 18→20, both padded
        for h, w in [(1, 1), (3, 5), (4, 6), (7, 4)]:
            px = rng.randint(0, 256, size=(h, w, 3), dtype=np.uint8)
            out = decode_bmp(encode_bmp(px))
            assert (out == px).all(), (h, w)

    def test_hand_built_known_answer(self):
        """2x2 BMP assembled by hand with struct.pack — decoding it must
        give exactly the intended RGB pixels (validates magic, offsets,
        bottom-up row order, BGR channel order, and row padding)."""
        import struct

        import numpy as np

        from ilogtail_spark.functions.multimodal import decode_bmp, encode_bmp

        w = h = 2
        row = 8  # 3*2=6 padded to 8
        header = struct.pack("<2sIHHI", b"BM", 54 + row * h, 0, 0, 54)
        header += struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, row * h, 0, 0, 0, 0)
        # rows stored bottom-up, BGR: file row 0 = image BOTTOM row
        bottom = bytes([255, 0, 0, 0, 255, 0, 0, 0])   # blue px, green px, pad
        top = bytes([0, 0, 255, 255, 255, 255, 0, 0])  # red px, white px, pad
        px = decode_bmp(header + bottom + top)
        expect = np.array(
            [[[255, 0, 0], [255, 255, 255]],   # top row: red, white
             [[0, 0, 255], [0, 255, 0]]],      # bottom row: blue, green
            dtype=np.uint8,
        )
        assert (px == expect).all()
        # encode_bmp must reproduce the same file layout byte-for-byte
        assert encode_bmp(expect)[54:] == bottom + top

    def test_top_down_negative_height(self):
        import struct

        import numpy as np

        from ilogtail_spark.functions.multimodal import decode_bmp

        w, h, row = 1, 2, 4
        header = struct.pack("<2sIHHI", b"BM", 54 + row * h, 0, 0, 54)
        header += struct.pack("<IiiHHIIiiII", 40, w, -h, 1, 24, 0, row * h, 0, 0, 0, 0)
        body = bytes([1, 2, 3, 0]) + bytes([4, 5, 6, 0])  # stored TOP first
        px = decode_bmp(header + body)
        assert (px == np.array([[[3, 2, 1]], [[6, 5, 4]]], dtype=np.uint8)).all()

    def test_bmps_container_round_trip(self):
        import numpy as np
        import pytest

        from ilogtail_spark.functions.multimodal import (
            bmps_frame,
            bmps_info,
            decode_bmp,
            encode_bmps,
        )

        rng = np.random.RandomState(3)
        frames = [rng.randint(0, 256, size=(2, 3, 3), dtype=np.uint8)
                  for _ in range(5)]
        blob = encode_bmps(frames, 40)
        assert bmps_info(blob) == (5, 40)
        for i, f in enumerate(frames):
            assert (decode_bmp(bmps_frame(blob, i)) == f).all(), i
        with pytest.raises(IndexError):
            bmps_frame(blob, 5)
        with pytest.raises(ValueError, match="BMPS"):
            bmps_info(b"BM not a container")

    def test_rejects_non_bmp(self):
        import pytest

        from ilogtail_spark.functions.multimodal import decode_bmp

        with pytest.raises(ValueError, match="magic"):
            decode_bmp(b"\x89PNG....")

    def test_extract_features_real_decode(self, spark):
        """fake=False really decodes the synthetic BMPs: width/height and
        per-channel means must equal the generator's closed forms."""
        m = synthetic_media(spark, 12).filter("kind = 'image'")
        rows = {r["media_id"]: r for r in extract_features(m, fake=False).collect()}
        assert rows  # ids 0,3,6,9
        for mid, r in rows.items():
            w = (mid % 16 + 1) * 4 + (mid // 3) % 3
            h = (mid % 9 + 1) * 4 + (mid // 5) % 4
            f = r["feature"]
            assert (f[0], f[1]) == (w, h)
            assert f[2] == mid * 37 % 256  # mean_r of the solid fill
            assert f[3] == mid * 59 % 256
            assert f[4] == mid * 83 % 256
            assert r["n_bytes"] == 54 + ((3 * w + 3) // 4) * 4 * h

    def test_resize_real_nearest_neighbor(self, spark):
        import numpy as np

        from ilogtail_spark.functions.multimodal import (
            decode_bmp,
            encode_bmp,
            resize_media,
        )

        px = np.arange(4 * 4 * 3, dtype=np.uint8).reshape(4, 4, 3)
        df = spark.createDataFrame(
            [(1, "image", bytearray(encode_bmp(px)), (4, 4, 0, "bmp"))],
            "media_id long, kind string, payload binary, "
            "meta struct<width:int,height:int,duration_ms:int,codec:string>",
        )
        out = resize_media(df, 2, 2, fake=False).first()
        got = decode_bmp(bytes(out["payload"]))
        # nearest-neighbor with index arithmetic: rows/cols 0 and 2
        assert (got == px[[0, 2]][:, [0, 2]]).all()
        assert out["meta"]["width"] == 2 and out["meta"]["height"] == 2
        # non-image rows pass through untouched under fake=False
        adf = spark.createDataFrame(
            [(2, "audio", bytearray(b"xyz"), (0, 0, 5, "opus"))],
            df.schema,
        )
        a = resize_media(adf, 2, 2, fake=False).first()
        assert bytes(a["payload"]) == b"xyz" and a["meta"]["duration_ms"] == 5


class TestRepetitionStats:
    def test_hand_values(self, spark):
        from ilogtail_spark.functions.textstats import repetition_stats

        df = spark.createDataFrame(
            [
                (1, "a a a b"),          # top word a: 3/4; bigram 'a a': 2/3
                (2, "x y z"),            # no repetition
                (3, "w"),                # single word: no bigrams
            ],
            "doc_id long, text string",
        )
        out = {r["doc_id"]: r for r in repetition_stats(df).collect()}
        r1 = out[1]
        assert r1["n_words"] == 4
        assert r1["top_word_frac"] == 3 / 4
        assert r1["top_bigram_frac"] == 2 / 3
        assert r1["dup_word_frac"] == (4 - 2) / 4
        r2 = out[2]
        assert r2["top_word_frac"] == 1 / 3 and r2["dup_word_frac"] == 0.0
        r3 = out[3]
        assert r3["n_words"] == 1 and r3["top_bigram_frac"] == 0.0

    def test_empty_doc_dropped(self, spark):
        from ilogtail_spark.functions.textstats import repetition_stats

        df = spark.createDataFrame([(1, ""), (2, "a b")], "doc_id long, text string")
        assert [r["doc_id"] for r in repetition_stats(df).collect()] == [2]


class TestPiiScrub:
    def test_kinds_and_order(self, spark):
        from ilogtail_spark.functions.textstats import pii_scrub

        df = spark.createDataFrame(
            [("mail bob.smith+x@corp.example.org call 212-555-0187 at 192.168.1.20",)],
            "text string",
        )
        r = pii_scrub(df, "text").first()
        assert r["text"] == "mail <EMAIL> call <PHONE> at <IPV4>"
        assert (r["n_email"], r["n_phone"], r["n_ipv4"]) == (1, 1, 1)

    def test_email_consumed_before_phone(self, spark):
        from ilogtail_spark.functions.textstats import pii_scrub

        # digits inside an email must not double-count as a phone
        df = spark.createDataFrame([("a 123-456-7890@x.io b",)], "text string")
        r = pii_scrub(df, "text").first()
        assert r["n_email"] == 1 and r["n_phone"] == 0
        assert r["text"] == "a <EMAIL> b"


class TestConnectedComponents:
    def test_chain_and_islands(self, spark):
        from ilogtail_spark.functions.dedup import connected_components

        pairs = spark.createDataFrame(
            [(1, 2), (2, 3), (3, 4), (10, 11), (20, 21), (21, 20)],
            "id_a long, id_b long",
        )
        out = {r["node"]: r["cluster_id"]
               for r in connected_components(pairs).collect()}
        assert out == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 20: 20, 21: 20}

    def test_long_path_converges(self, spark):
        from ilogtail_spark.functions.dedup import connected_components

        # a 30-node path needs multiple propagation rounds
        pairs = spark.createDataFrame(
            [(i, i + 1) for i in range(30)], "id_a long, id_b long"
        )
        out = connected_components(pairs).collect()
        assert all(r["cluster_id"] == 0 for r in out) and len(out) == 31

    def test_string_node_ids(self, spark):
        # non-numeric node ids: the decimal label-sum convergence check
        # yields NULL — the changed-count fallback must still fully merge
        # a multi-round chain (ADVICE r3: the NULL==NULL compare used to
        # exit after one round, silently under-merged)
        from ilogtail_spark.functions.dedup import connected_components

        pairs = spark.createDataFrame(
            [(f"d{i:02d}", f"d{i + 1:02d}") for i in range(8)]
            + [("x1", "x2")],
            "id_a string, id_b string",
        )
        out = {r["node"]: r["cluster_id"]
               for r in connected_components(pairs).collect()}
        assert {out[f"d{i:02d}"] for i in range(9)} == {"d00"}
        assert out["x1"] == out["x2"] == "x1"

    def test_numeric_looking_string_ids(self, spark):
        # ADVICE r4 (medium): STRING ids that happen to parse as numbers
        # must NOT use the decimal label-sum shortcut — labels move
        # LEXICOGRAPHICALLY ('9' → '10' is numerically +1), so two
        # simultaneous changes can cancel in the sum and fake
        # convergence. The gate is now the SCHEMA type: any string label
        # takes the changed-count path. The merge must be complete with
        # the LEXICOGRAPHIC minimum as representative.
        from ilogtail_spark.functions.dedup import connected_components

        pairs = spark.createDataFrame(
            [("9", "10"), ("10", "11"), ("11", "12"), ("8", "9")],
            "id_a string, id_b string",
        )
        out = {r["node"]: r["cluster_id"]
               for r in connected_components(pairs).collect()}
        # lexicographic min of {'8','9','10','11','12'} is '10'
        assert set(out.values()) == {"10"} and len(out) == 5

    def test_non_convergence_raises(self, spark):
        from ilogtail_spark.functions.dedup import connected_components

        pairs = spark.createDataFrame(
            [(i, i + 1) for i in range(30)], "id_a long, id_b long"
        )
        with pytest.raises(RuntimeError, match="did not converge"):
            connected_components(pairs, max_iter=2)


class TestMinhashBandHistogram:
    """The standing LSH lesson (SCALE.md): whenever a hash family
    changes, audit the bucket-size histogram — correlated coefficients
    (the old structured a_i=2i+1 / b_i=7i²+13 family, same defect class
    as the r4 LCG hyperplanes) surface as mega-buckets long before they
    bias the Jaccard estimate visibly."""

    def test_distinct_docs_spread_across_buckets(self, spark):
        from ilogtail_spark.functions.dedup import minhash_bands

        # 400 pairwise-distinct docs (md5-derived tokens, no shared
        # shingles): no band bucket may collect more than a couple of
        # docs — a skewed family turns the banded self-join quadratic.
        docs = spark.range(400).select(
            F.col("id").alias("doc_id"),
            F.concat_ws(
                " ",
                *[
                    F.substring(F.md5(F.col("id").cast("string")), 1 + 4 * k, 4)
                    for k in range(8)
                ],
            ).alias("text"),
        )
        banded = minhash_bands(minhash_signatures(docs))
        hist = banded.groupBy("band", "bucket").count()
        top = hist.agg(F.max("count").alias("mx"), F.count(F.lit(1)).alias("n")).first()
        # 400 docs × 16 bands = 6400 banded rows; distinct docs should
        # occupy ~6400 distinct buckets (md5-of-4-slots collisions ~0)
        assert top["mx"] <= 2, f"bucket skew: max bucket {top['mx']}"
        assert top["n"] >= 6300

    def test_coefficients_are_unstructured(self):
        from ilogtail_spark.functions.dedup import _P, minhash_coeffs

        cs = minhash_coeffs(64)
        a = [c[0] for c in cs]
        b = [c[1] for c in cs]
        assert len(set(a)) == 64 and len(set(b)) == 64
        assert all(1 <= x < _P for x in a) and all(0 <= x < _P for x in b)
        # no arithmetic progression (the old family was exactly this)
        diffs = {a[i + 1] - a[i] for i in range(63)}
        assert len(diffs) > 32


class TestDedupKeepOneJoinStrategy:
    """VERDICT r5 task 1: the cluster join must not force a broadcast —
    a high-duplication corpus (clusters ~ O(corpus)) has to DEGRADE to a
    shuffle join, not fail at the broadcast ceiling; while the common
    small-cluster case should still broadcast via AQE's own decision."""

    def _plan(self, df) -> str:
        import io
        from contextlib import redirect_stdout

        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        return buf.getvalue()

    def _fixtures(self, spark):
        from ilogtail_spark.functions.dedup import dedup_keep_one

        docs = spark.createDataFrame(
            [(i, f"text {i}") for i in range(64)], "doc_id long, text string"
        )
        clusters = spark.createDataFrame(
            [(1, 1), (3, 1), (4, 4), (5, 4)], "node long, cluster_id long"
        )
        return dedup_keep_one(docs, clusters)

    def test_degrades_to_shuffle_join_past_the_ceiling(self, spark):
        # broadcast disabled = the planner's view of an over-ceiling
        # cluster side; a forced hint would ignore it and still broadcast
        old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        try:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
            out = self._fixtures(spark)
            assert "Broadcast" not in self._plan(out)
            # and the result is IDENTICAL — degrade, not fail
            assert out.filter("keep").count() == 62
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)

    def test_small_clusters_still_broadcast_via_aqe(self, spark):
        out = self._fixtures(spark)
        # collect THIS DataFrame so its own adaptive plan finalizes
        rows = out.collect()
        assert sum(r["keep"] for r in rows) == 62
        plan = self._plan(out)
        assert "isFinalPlan=true" in plan
        assert "BroadcastHashJoin" in plan


class TestDedupKeepOne:
    def test_keep_flags(self, spark):
        from ilogtail_spark.functions.dedup import dedup_keep_one

        docs = spark.createDataFrame(
            [(i, f"text {i}") for i in range(6)], "doc_id long, text string"
        )
        clusters = spark.createDataFrame(
            [(1, 1), (3, 1), (4, 4), (5, 4)], "node long, cluster_id long"
        )
        out = {r["doc_id"]: (r["cluster_id"], r["keep"])
               for r in dedup_keep_one(docs, clusters).collect()}
        assert out == {
            0: (0, True),   # unclustered → kept, own cluster
            1: (1, True),   # representative (min of {1,3})
            2: (2, True),
            3: (1, False),  # near-dup of 1 → dropped
            4: (4, True),
            5: (4, False),
        }
        # filter('keep') is the deduplicated corpus
        kept = dedup_keep_one(docs, clusters).filter("keep").count()
        assert kept == 4


class TestDuplicateSpans:
    """Windowed-hash substring-dedup spans (Lee et al. 2022 shape):
    exact token offsets for a planted shared passage, no flags for
    unique text or for repetition WITHIN one document."""

    def test_planted_shared_passage(self, spark):
        from ilogtail_spark.functions.dedup import duplicate_spans

        shared = "alpha beta gamma delta epsilon zeta eta theta"  # 8 toks
        docs = spark.createDataFrame(
            [
                (1, f"u1 u2 {shared} v1 v2"),          # shared at tokens 2..9
                (2, f"{shared} w1 w2 w3"),             # shared at tokens 0..7
                (3, "totally unrelated text with nothing shared here at all"),
                # self-repetition only: the 4-gram repeats WITHIN doc 4
                (4, "r1 r2 r3 r4 r1 r2 r3 r4 r1 r2 r3 r4"),
            ],
            "doc_id long, text string",
        )
        out = {(r["doc_id"]): (r["span_start"], r["span_end"], r["n_windows"])
               for r in duplicate_spans(docs, k=4, min_docs=2).collect()}
        # doc 1: windows 2..6 duplicated (5 windows of the 8-token span)
        assert out[1] == (2, 9, 5)
        assert out[2] == (0, 7, 5)
        assert 3 not in out
        assert 4 not in out  # min_docs counts DISTINCT docs

    def test_two_separate_runs_stay_separate(self, spark):
        from ilogtail_spark.functions.dedup import duplicate_spans

        a = "p1 p2 p3 p4"
        b = "q1 q2 q3 q4"
        docs = spark.createDataFrame(
            [(1, f"{a} x1 x2 x3 {b}"), (2, f"{a} y1 {b} y2")],
            "doc_id long, text string",
        )
        rows = duplicate_spans(docs, k=4, min_docs=2).collect()
        spans = sorted((r["doc_id"], r["span_start"], r["span_end"]) for r in rows)
        assert spans == [(1, 0, 3), (1, 7, 10), (2, 0, 3), (2, 5, 8)]


class TestNoCacheAccumulation:
    """VERDICT r5 task 5: the pair-form queries used to persist() their
    bucketed relations and never unpersist — in a long-lived session
    (the driver re-runs 91 registry queries back-to-back) CacheManager
    entries accumulated until LRU eviction. They now use lazy
    localCheckpoint (blocks reclaimed by the ContextCleaner with the
    plan), so the session CacheManager must stay EMPTY after each query
    completes."""

    def test_pair_form_queries_leave_cache_empty(self, spark):
        from ilogtail_spark.functions.dedup import (
            minhash_lsh_pairs,
            ngram_jaccard_pairs,
        )
        from ilogtail_spark.functions.similarity import embedding_cosine_pairs_lsh

        spark.catalog.clearCache()
        docs = spark.createDataFrame(
            [(i, f"tok{i} alpha beta gamma delta epsilon") for i in range(40)],
            "doc_id long, text string",
        )
        emb = spark.createDataFrame(
            [(i, [float((i * 7 + j) % 5) for j in range(8)]) for i in range(30)],
            "vec_id long, embedding array<float>",
        )
        minhash_lsh_pairs(docs, threshold=0.3).count()
        ngram_jaccard_pairs(docs, threshold=0.3, max_df=10).count()
        embedding_cosine_pairs_lsh(emb, threshold=0.9, n_planes=4, dim=8).count()
        cm = spark._jsparkSession.sharedState().cacheManager()
        assert cm.isEmpty(), "a pair-form query left a CacheManager entry"


class TestNgramContamination:
    def test_planted_overlap(self, spark):
        from ilogtail_spark.functions.dedup import ngram_contamination

        train = spark.createDataFrame(
            [(1, "the quick brown fox jumps over the lazy dog"),
             (2, "completely different words entirely here now"),
             (3, "quick brown fox jumps somewhere")],
            "doc_id long, text string",
        )
        test = spark.createDataFrame(
            [(100, "a quick brown fox jumps over fences")],
            "doc_id long, text string",
        )
        out = {(r["train_id"], r["test_id"]): r["shared_ngrams"]
               for r in ngram_contamination(train, test, n=3, min_shared=2).collect()}
        # doc 1 shares 'quick brown fox','brown fox jumps','fox jumps over'
        assert out[(1, 100)] == 3
        assert out[(3, 100)] == 2  # shares the first two
        assert (2, 100) not in out

    def test_min_shared_threshold(self, spark):
        from ilogtail_spark.functions.dedup import ngram_contamination

        train = spark.createDataFrame(
            [(1, "alpha beta gamma delta")], "doc_id long, text string"
        )
        test = spark.createDataFrame(
            [(9, "alpha beta gamma zz")], "doc_id long, text string"
        )
        hits = ngram_contamination(train, test, n=3, min_shared=2).collect()
        assert hits == []  # only 1 shared 3-gram ('alpha beta gamma')
        hits1 = ngram_contamination(train, test, n=3, min_shared=1).collect()
        assert len(hits1) == 1 and hits1[0]["shared_ngrams"] == 1


class TestIncrementalDedup:
    def test_flags_against_index(self, spark):
        from ilogtail_spark.functions.dedup import (
            dedup_index,
            incremental_dedup,
        )

        corpus = spark.createDataFrame(
            [(1, "the quick brown fox jumps over the lazy dog"),
             (2, "pack my box with five dozen liquor jugs"),
             (3, "completely unrelated sentence about nothing at all")],
            "doc_id long, text string",
        )
        batch = spark.createDataFrame(
            [(100, "the quick brown fox jumps over the lazy dog"),  # exact
             (101, "the quick brown fox jumps over the lazy cat"),  # near
             (102, "entirely novel words never indexed anywhere ever")],
            "doc_id long, text string",
        )
        ex, bk = dedup_index(corpus)
        out = {r["doc_id"]: (r["exact_dup"], r["near_dup"])
               for r in incremental_dedup(batch, ex, bk).collect()}
        assert out[100] == (True, True)   # exact implies near
        assert out[101] == (False, True)  # one-token edit shares buckets
        assert out[102] == (False, False)
        # the append decision: only the novel doc survives
        survivors = [d for d, (e, nd) in out.items() if not e and not nd]
        assert survivors == [102]


class TestBloomContamination:
    """The Bloom pre-filter must be invisible in the result: no false
    negatives ever, and false positives die in the exact confirm join."""

    def test_equals_exact_even_with_forced_false_positives(self, spark):
        from ilogtail_spark.functions.dedup import (
            bloom_contamination,
            ngram_contamination,
        )

        # 40 docs, every 7th is held out; a 256-bit filter over ~400
        # distinct test grams is saturated — nearly every probe is a
        # false positive, so the confirm join does all the work.
        docs = spark.range(40).selectExpr(
            "id AS doc_id",
            "array_join(transform(sequence(0, 19), "
            "i -> concat('t', cast((id * 3 + i * i) % 37 AS string))), ' ')"
            " AS text",
        )
        train = docs.filter("doc_id % 7 != 0")
        test = docs.filter("doc_id % 7 = 0")
        exact = {
            (r["train_id"], r["test_id"]): r["shared_ngrams"]
            for r in ngram_contamination(
                train, test, n=3, min_shared=2
            ).collect()
        }
        bloom = {
            (r["train_id"], r["test_id"]): r["shared_ngrams"]
            for r in bloom_contamination(
                train, test, n=3, min_shared=2, n_bits=256, n_hashes=3
            ).collect()
        }
        assert exact and bloom == exact
        lit_df = bloom_contamination(
            train, test, n=3, min_shared=2, n_bits=256, n_hashes=3,
            bitmap_literal=True,
        )
        lit = {(r["train_id"], r["test_id"]): r["shared_ngrams"]
               for r in lit_df.collect()}
        assert lit == exact
        # the literal path fuses all probes into the scan projection —
        # the plan's only join is the exact confirm join
        plan = (
            lit_df._jdf.queryExecution().executedPlan().toString()
            .split("== Initial Plan ==")[0]  # AQE prints the tree twice
        )
        n_joins = sum(plan.count(j) for j in (
            "SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin",
            "BroadcastNestedLoopJoin"))
        assert n_joins <= 1

    def test_unsaturated_filter_prunes(self, spark):
        from ilogtail_spark.functions.dedup import bloom_contamination

        train = spark.createDataFrame(
            [(1, "the quick brown fox jumps over the lazy dog"),
             (2, "completely different words entirely here now")],
            "doc_id long, text string",
        )
        test = spark.createDataFrame(
            [(100, "a quick brown fox jumps over fences")],
            "doc_id long, text string",
        )
        out = {(r["train_id"], r["test_id"]): r["shared_ngrams"]
               for r in bloom_contamination(
                   train, test, n=3, min_shared=2).collect()}
        assert out == {(1, 100): 3}


class TestBm25:
    def test_known_answer(self, spark):
        import math

        from ilogtail_spark.functions.retrieval import bm25_topk

        rows = [(0, "apple banana apple"), (1, "banana cherry"),
                (2, "cherry cherry cherry date")]
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        out = {r["doc_id"]: r["bm25"]
               for r in bm25_topk(docs, ["apple"], topk=3).collect()}

        # only doc 0 contains 'apple': N=3, df=1, dl=3, avgdl=3, tf=2
        idf = math.log((3 - 1 + 0.5) / (1 + 0.5) + 1.0)
        expect = idf * 2.0 * 2.2 / (2.0 + 1.2 * (0.25 + 0.75 * 3 / 3.0))
        assert list(out) == [0]
        assert abs(out[0] - expect) < 1e-6

    def test_ranking_and_topk_cut(self, spark):
        from ilogtail_spark.functions.retrieval import bm25_topk

        docs = spark.createDataFrame(
            [(i, "filler " * 5 + "target " * (i % 4)) for i in range(20)],
            "doc_id long, text string",
        )
        out = bm25_topk(docs, ["target"], topk=5).collect()
        assert len(out) == 5
        # highest tf (i%4==3) ranks first; ties break by doc_id
        assert [r["doc_id"] for r in out] == [3, 7, 11, 15, 19]
        assert all(a["bm25"] >= b["bm25"] for a, b in zip(out, out[1:]))

    def test_empty_query_rejected(self, spark):
        from ilogtail_spark.functions.retrieval import bm25_topk

        docs = spark.range(1).selectExpr("id AS doc_id", "'x' AS text")
        try:
            bm25_topk(docs, [])
            assert False, "expected ValueError"
        except ValueError:
            pass

    def test_precomputed_stats_path_identical_and_joinless(self, spark):
        from ilogtail_spark.functions.retrieval import (
            bm25_corpus_stats,
            bm25_topk,
        )

        docs = spark.createDataFrame(
            [(i, ("alpha " * (i % 3 + 1) + "beta " * (i % 2)).strip())
             for i in range(30)],
            "doc_id long, text string",
        )
        terms = ["alpha", "beta"]
        stats = bm25_corpus_stats(docs, terms)
        assert stats["n_docs"] == 30 and stats["df"]["alpha"] == 30
        inline = bm25_topk(docs, terms, topk=30).collect()
        lit = bm25_topk(docs, terms, topk=30, stats=stats)
        assert lit.collect() == inline  # exact doubles, same order
        # the write-time-stats query is one scan, zero joins
        plan = lit._jdf.queryExecution().executedPlan().toString()
        assert "Join" not in plan


class TestLengthQuantiles:
    def test_exact_interpolated(self, spark):
        from ilogtail_spark.functions.textstats import length_quantiles

        docs = spark.createDataFrame(
            [(i, "en", "w " * (i + 1)) for i in range(4)],
            "doc_id long, lang string, text string",
        )
        row = length_quantiles(docs, approx=False).collect()[0]
        # lengths 1..4: p50 = 2.5 (linear interpolation), p90 = 3.7
        assert row["lang"] == "en" and row["n_docs"] == 4
        assert abs(row["p50"] - 2.5) < 1e-9
        assert abs(row["p90"] - 3.7) < 1e-9

    def test_approx_is_discrete_exact_when_accuracy_covers_group(self, spark):
        # accuracy >= group size: GK keeps every sample, result is the
        # exact discrete quantile (an element, no interpolation)
        from ilogtail_spark.functions.textstats import length_quantiles

        docs = spark.createDataFrame(
            [(i, "en", "w " * (i + 1)) for i in range(4)],
            "doc_id long, lang string, text string",
        )
        row = length_quantiles(docs).collect()[0]  # approx is the default
        assert row["n_docs"] == 4
        # lengths 1..4: smallest element with cume_dist >= q
        assert row["p50"] == 2.0 and row["p90"] == 4.0 and row["p99"] == 4.0

    def test_approx_rank_tolerance_in_sketch_regime(self, spark):
        """accuracy << group size — the genuinely approximate regime.
        GK guarantees rank error <= n/accuracy; assert the returned
        value sits within twice that rank window of the exact discrete
        quantile (deterministic data, generous bound)."""
        from ilogtail_spark.functions.textstats import length_quantiles

        n, accuracy = 20000, 200
        # skewed lengths 1..~460, zipf-ish via squares
        lens = [(i * i) % 459 + 1 for i in range(n)]
        docs = spark.createDataFrame(
            [(i, "en", "w " * ln) for i, ln in enumerate(lens)],
            "doc_id long, lang string, text string",
        )
        row = length_quantiles(docs, accuracy=accuracy).collect()[0]
        sorted_lens = sorted(lens)
        tol = 2 * n // accuracy  # 2x the GK guarantee
        for q, col in [(0.5, "p50"), (0.9, "p90"), (0.99, "p99")]:
            target_rank = int(q * n)
            lo = sorted_lens[max(0, target_rank - tol)]
            hi = sorted_lens[min(n - 1, target_rank + tol)]
            assert lo <= row[col] <= hi, (col, row[col], lo, hi)


class TestVocabTopk:
    def test_counts_share_and_cut(self, spark):
        from ilogtail_spark.functions.textstats import vocab_topk

        docs = spark.createDataFrame(
            [(0, "a a a b"), (1, "a b c"), (2, "b b d")],
            "doc_id long, text string",
        )
        rows = vocab_topk(docs, top_k=2).collect()
        # 10 tokens total: a=4 (2 docs), b=4 (3 docs), c=1, d=1;
        # a==b ties break alphabetically
        assert [(r["token"], r["n_occurrences"], r["n_docs"]) for r in rows] \
            == [("a", 4, 2), ("b", 4, 3)]
        assert all(abs(r["share"] - 0.4) < 1e-9 for r in rows)


class TestHybridRetrieval:
    def test_rrf_fuses_both_lists(self, spark):
        from ilogtail_spark.functions.retrieval import hybrid_topk

        # doc 1 is lexical-only, doc 3 dense-only, doc 2 in both lists;
        # the query doc (0) is excluded from the dense side.
        docs = spark.createDataFrame(
            [(0, "zz"), (1, "apple apple apple"), (2, "apple"),
             (3, "nothing relevant")],
            "doc_id long, text string",
        )
        emb = spark.createDataFrame(
            [(0, [1.0, 0.0]), (1, [0.0, 1.0]), (2, [0.9, 0.1]),
             (3, [1.0, 0.05])],
            "vec_id long, embedding array<float>",
        )
        out = {r["doc_id"]: r["rrf"]
               for r in hybrid_topk(
                   docs, emb, ["apple"], 0, topk=4, n_candidates=3
               ).collect()}
        # lexical ranks: 1 -> r1, 2 -> r2; dense ranks: 3 -> r1, 2 -> r2,
        # 1 -> r3 (orthogonal). RRF with k0=60:
        assert abs(out[2] - (1 / 62 + 1 / 62)) < 1e-6
        assert abs(out[1] - (1 / 61 + 1 / 63)) < 1e-6
        assert abs(out[3] - 1 / 61) < 1e-6
        # any two-list doc beats any one-list doc; among the two-list
        # docs 1/61+1/63 > 2/62 (convexity of 1/(k0+r))
        assert out[1] > out[2] > out[3]
        assert 0 not in out  # query doc has no lexical hit, dense-excluded

    def test_pluggable_dense_rank(self, spark):
        from ilogtail_spark.functions.retrieval import hybrid_topk

        docs = spark.createDataFrame(
            [(1, "apple"), (2, "apple apple"), (3, "pear")],
            "doc_id long, text string",
        )
        # custom dense ranking (e.g. from an ANN tier): doc 3 first
        dense = spark.createDataFrame(
            [(3, 1), (1, 2)], "doc_id long, r_dense int"
        )
        out = {r["doc_id"]: r["rrf"]
               for r in hybrid_topk(
                   docs, None, ["apple"], 0, topk=3, n_candidates=3,
                   dense_rank=dense,
               ).collect()}
        # lexical ranks: 2 -> r1, 1 -> r2 (tf, then doc_id)
        assert abs(out[1] - (1 / 62 + 1 / 62)) < 1e-6
        assert abs(out[2] - 1 / 61) < 1e-6
        assert abs(out[3] - 1 / 61) < 1e-6


class TestConnectedComponentsStar:
    """Large-star/small-star contraction (Kiveris et al., SOCC'14) must
    agree with plain min-label propagation everywhere and converge in
    O(log n) rounds on the high-diameter worst case."""

    def _both(self, spark, edges, schema="id_a long, id_b long"):
        from ilogtail_spark.functions.dedup import (
            connected_components,
            connected_components_star,
        )

        pairs = spark.createDataFrame(edges, schema)
        plain = {r["node"]: r["cluster_id"]
                 for r in connected_components(pairs, max_iter=80).collect()}
        star = {r["node"]: r["cluster_id"]
                for r in connected_components_star(pairs).collect()}
        return plain, star

    def test_property_random_graphs_agree(self, spark):
        import random

        rng = random.Random(20260816)
        for trial in range(6):
            n = rng.randrange(5, 60)
            m = rng.randrange(1, 2 * n)
            edges = [
                (rng.randrange(n), rng.randrange(n)) for _ in range(m)
            ]
            plain, star = self._both(spark, edges)
            assert plain == star, (trial, n, edges)

    def test_string_ids_agree(self, spark):
        edges = [("b", "c"), ("c", "d"), ("x", "y"), ("d", "a")]
        plain, star = self._both(spark, edges, "id_a string, id_b string")
        assert plain == star
        assert star["c"] == "a" and star["x"] == "x"

    def test_chain_logarithmic_rounds(self, spark):
        """A 2000-node planted chain: diameter 1999, so plain propagation
        would need ~2000 driver rounds; star contraction must finish in
        O(log n) — the property that makes CC usable on 10^9-edge
        high-diameter graphs."""
        from ilogtail_spark.functions.dedup import connected_components_star

        pairs = spark.createDataFrame(
            [(i, i + 1) for i in range(1999)], "id_a long, id_b long"
        )
        stats: dict = {}
        out = connected_components_star(pairs, stats=stats).collect()
        assert len(out) == 2000
        assert all(r["cluster_id"] == 0 for r in out)
        assert stats["rounds"] <= 15, stats  # log2(2000) ≈ 11


class TestStratifiedSample:
    def test_fractions_and_determinism(self, spark):
        import hashlib

        from ilogtail_spark.functions.textstats import stratified_sample

        df = spark.createDataFrame(
            [(i, "en" if i % 2 == 0 else "de") for i in range(2000)],
            "doc_id long, lang string",
        )
        out = stratified_sample(df, "lang", {"en": 0.25, "de": 0.75})
        rows = out.collect()
        kept = {r["doc_id"] for r in rows}
        # exact per-row check against the md5 rule (no sampling slack)
        for i in range(2000):
            draw = int(
                hashlib.md5(f"strat:{i}".encode()).hexdigest()[:15], 16
            ) / 16**15
            frac = 0.25 if i % 2 == 0 else 0.75
            assert (i in kept) == (draw < frac), i
        # deterministic: second run identical
        again = {r["doc_id"] for r in stratified_sample(
            df, "lang", {"en": 0.25, "de": 0.75}).collect()}
        assert again == kept

    def test_default_fraction_zero_drops_unlisted(self, spark):
        from ilogtail_spark.functions.textstats import stratified_sample

        df = spark.createDataFrame(
            [(1, "xx"), (2, "en")], "doc_id long, lang string"
        )
        out = stratified_sample(df, "lang", {"en": 1.0}).collect()
        assert [r["doc_id"] for r in out] == [2]


class TestPackGreedy:
    def test_hand_case(self, spark):
        from ilogtail_spark.functions.packing import pack_greedy

        rows = [
            ("s", 1, 300), ("s", 2, 200),   # 300+200=500 -> bin 0
            ("s", 3, 20),                   # 520 > 512 -> bin 1
            ("s", 4, 600),                  # oversized -> own bin 2
            ("s", 5, 10),                   # after overflow bin -> bin 3
            ("t", 9, 512),                  # exactly max -> bin 0
            ("t", 10, 1),                   # overflow -> bin 1
        ]
        df = spark.createDataFrame(rows, "source string, doc_id long, n_tokens long")
        out = {(r["source"], r["doc_id"]): (r["bin_id"], r["bin_fill"])
               for r in pack_greedy(df, max_tokens=512).collect()}
        assert out == {
            ("s", 1): (0, 300), ("s", 2): (0, 500), ("s", 3): (1, 20),
            ("s", 4): (2, 600), ("s", 5): (3, 10),
            ("t", 9): (0, 512), ("t", 10): (1, 1),
        }

    def test_invariants_random(self, spark):
        import random

        from ilogtail_spark.functions.packing import pack_greedy

        rng = random.Random(7)
        rows = [
            (f"g{i % 5}", i, rng.randint(1, 700)) for i in range(300)
        ]
        df = spark.createDataFrame(rows, "source string, doc_id long, n_tokens long")
        out = pack_greedy(df, max_tokens=512).collect()
        by_group_bin: dict = {}
        for r in out:
            by_group_bin.setdefault((r["source"], r["bin_id"]), []).append(r)
        for (g, b), docs in by_group_bin.items():
            total = sum(d["n_tokens"] for d in docs)
            # a bin over budget must be a single oversized doc
            assert total <= 512 or (len(docs) == 1 and docs[0]["n_tokens"] > 512)
        # bins dense 0..k per group
        for g in {r["source"] for r in out}:
            bins = sorted({r["bin_id"] for r in out if r["source"] == g})
            assert bins == list(range(len(bins)))


class TestNormalizeAndUrls:
    def test_normalize_text(self, spark):
        from ilogtail_spark.functions.textstats import normalize_text

        df = spark.createDataFrame(
            [("  Hello,   WORLD!! (x)  ",), ("a\tb\nc",)], "text string"
        )
        out = [r["text"] for r in normalize_text(df).collect()]
        assert out == ["hello world x", "a b c"]
        keep = [r["text"] for r in normalize_text(df, strip_punct=False).collect()]
        assert keep == ["hello, world!! (x)", "a b c"]

    def test_url_stats(self, spark):
        from ilogtail_spark.functions.textstats import url_stats

        df = spark.createDataFrame(
            [
                (1, "x https://A.example.com/p http://a.example.com/q y"),
                (2, "see https://b.example.org:8080/r"),
                (3, "no urls here"),
            ],
            "doc_id long, text string",
        )
        out = {r["domain"]: (r["n_docs"], r["n_urls"])
               for r in url_stats(df).collect()}
        # hostnames lowercase; ports excluded from the domain
        assert out == {"a.example.com": (1, 2), "b.example.org": (1, 1)}


class TestInt8Quantization:
    def test_codes_bounded_and_scale(self, spark):
        from ilogtail_spark.functions.similarity import quantize_embeddings

        df = spark.createDataFrame(
            [(1, [0.5, -1.0, 0.25]), (2, [0.0, 0.0, 0.0])],
            "vec_id long, embedding array<float>",
        )
        out = {r["vec_id"]: r for r in quantize_embeddings(df).collect()}
        assert out[1]["qcode"] == [64, -127, 32]  # scale = 1.0/127
        assert abs(out[1]["qscale"] - 1.0 / 127) < 1e-12
        assert out[2]["qcode"] == [0, 0, 0] and out[2]["qscale"] == 1.0

    def test_recall_vs_float(self, spark):
        from ilogtail_spark.functions.similarity import (
            brute_force_topk,
            brute_force_topk_int8,
        )

        emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
        qs = emb.where("vec_id < 5")
        exact = brute_force_topk(emb, qs, k=10).collect()
        quant = brute_force_topk_int8(emb, qs, k=10).collect()
        by_q_exact: dict = {}
        for r in exact:
            by_q_exact.setdefault(r["q_id"], set()).add(r["n_id"])
        by_q_quant: dict = {}
        for r in quant:
            by_q_quant.setdefault(r["q_id"], set()).add(r["n_id"])
        recalls = [
            len(by_q_exact[q] & by_q_quant[q]) / 10 for q in by_q_exact
        ]
        # int8 scalar quantization keeps cosine ranks nearly intact
        assert sum(recalls) / len(recalls) >= 0.8, recalls


class TestBm25Multi:
    def test_one_query_batch_matches_single(self, spark):
        """A one-query batch must be bit-identical to bm25_topk — the
        batched operator reuses the same scoring kernel."""
        from ilogtail_spark.functions.retrieval import (
            bm25_multi_topk,
            bm25_topk,
        )

        docs = spark.createDataFrame(
            [(i, ("apple " * (i % 3 + 1)) + ("pear " * (i % 2)) + "x")
             for i in range(30)],
            "doc_id long, text string",
        )
        single = [(r["doc_id"], r["bm25"])
                  for r in bm25_topk(docs, ["apple", "pear"], topk=7).collect()]
        multi = sorted(
            bm25_multi_topk(docs, {"q": ["apple", "pear"]}, topk=7).collect(),
            key=lambda r: r["rank"],
        )
        assert [(r["doc_id"], r["bm25"]) for r in multi] == single
        assert [r["rank"] for r in multi] == list(range(1, len(multi) + 1))

    def test_each_query_scored_over_own_terms(self, spark):
        from ilogtail_spark.functions.retrieval import (
            bm25_multi_topk,
            bm25_topk,
        )

        docs = spark.createDataFrame(
            [(1, "apple apple banana"), (2, "banana cherry"),
             (3, "cherry cherry cherry"), (4, "durian")],
            "doc_id long, text string",
        )
        qs = {"qa": ["apple", "banana"], "qc": ["cherry"]}
        out = bm25_multi_topk(docs, qs, topk=10).collect()
        got = {qid: sorted((r["doc_id"], r["bm25"]) for r in out
                           if r["query_id"] == qid) for qid in qs}
        for qid, terms in qs.items():
            want = sorted((r["doc_id"], r["bm25"])
                          for r in bm25_topk(docs, terms, topk=10).collect())
            assert got[qid] == want, qid
        # doc 4 matches nothing — must appear in no list
        assert all(r["doc_id"] != 4 for r in out)

    def test_single_scan_and_window_group_limit(self, spark):
        """The production claims: with prestats the plan is ONE scan,
        zero joins, and the per-query top-k is a WindowGroupLimit
        (map-side group heaps before the exchange)."""
        from ilogtail_spark.functions.retrieval import (
            bm25_corpus_stats,
            bm25_multi_topk,
        )

        docs = spark.createDataFrame(
            [(i, "apple pear plum"[: 5 + (i % 3) * 5]) for i in range(20)],
            "doc_id long, text string",
        )
        stats = bm25_corpus_stats(docs, ["apple", "pear"])
        df = bm25_multi_topk(
            docs, {"q1": ["apple"], "q2": ["pear", "apple"]},
            topk=3, stats=stats,
        )
        plan = (
            df._jdf.queryExecution().executedPlan().toString()
            .split("== Initial Plan ==")[0]
        )
        assert "WindowGroupLimit" in plan
        assert "Join" not in plan

    def test_rejects_empty(self, spark):
        import pytest

        from ilogtail_spark.functions.retrieval import bm25_multi_topk

        docs = spark.createDataFrame([(1, "a")], "doc_id long, text string")
        with pytest.raises(ValueError):
            bm25_multi_topk(docs, {})
        with pytest.raises(ValueError):
            bm25_multi_topk(docs, {"q": []})


class TestHybridMulti:
    def test_matches_single_hybrid_per_query(self, spark):
        from ilogtail_spark.functions.retrieval import (
            hybrid_multi_topk,
            hybrid_topk,
        )

        docs = spark.createDataFrame(
            [(0, "zz"), (1, "apple apple apple"), (2, "apple"),
             (3, "nothing relevant"), (4, "pear pear")],
            "doc_id long, text string",
        )
        emb = spark.createDataFrame(
            [(0, [1.0, 0.0]), (1, [0.0, 1.0]), (2, [0.9, 0.1]),
             (3, [1.0, 0.05]), (4, [0.5, 0.5])],
            "vec_id long, embedding array<float>",
        )
        out = hybrid_multi_topk(
            docs, emb,
            {"qa": {"terms": ["apple"], "vec_id": 0},
             "qp": {"terms": ["pear"], "vec_id": 1}},
            topk=4, n_candidates=3,
        ).collect()
        for qid, terms, vid in [("qa", ["apple"], 0), ("qp", ["pear"], 1)]:
            want = sorted(
                (r["doc_id"], r["rrf"])
                for r in hybrid_topk(
                    docs, emb, terms, vid, topk=4, n_candidates=3
                ).collect()
            )
            got = sorted((r["doc_id"], r["rrf"])
                         for r in out if r["query_id"] == qid)
            assert got == want, qid

    def test_shared_query_vector_fans_out(self, spark):
        # two queries sharing one vector: each still gets a full dense
        # list (the array/when fan-out, where a map would keep only one)
        from ilogtail_spark.functions.retrieval import hybrid_multi_topk

        docs = spark.createDataFrame(
            [(1, "apple"), (2, "pear"), (3, "plum")],
            "doc_id long, text string",
        )
        emb = spark.createDataFrame(
            [(1, [1.0, 0.0]), (2, [0.9, 0.1]), (3, [0.0, 1.0])],
            "vec_id long, embedding array<float>",
        )
        out = hybrid_multi_topk(
            docs, emb,
            {"qa": {"terms": ["apple"], "vec_id": 1},
             "qb": {"terms": ["pear"], "vec_id": 1}},
            topk=3, n_candidates=2,
        ).collect()
        by_q = {}
        for r in out:
            by_q.setdefault(r["query_id"], set()).add(r["doc_id"])
        # both queries got dense neighbors of vec 1 (docs 2 and 3's
        # cosine ranks) fused with their own lexical hit
        assert by_q["qa"] and by_q["qb"]
        assert 2 in by_q["qa"] and 2 in by_q["qb"]


class TestTokenCountExact:
    def test_callable_tokenizer_arrow_kernel(self, spark, docs):
        """The pluggable surface with a deterministic callable: counts
        must match a driver-side replay exactly, and the plan must run
        it as ONE ArrowEvalPython stage (batch transfer, not
        row-at-a-time)."""
        from ilogtail_spark.functions.textstats import token_count_exact

        fake = lambda texts: [(len(t) + 3) // 4 for t in texts]  # noqa: E731
        out = token_count_exact(docs, tokenizer=fake)
        got = {r["doc_id"]: r["n_tokens_exact"] for r in out.collect()}
        want = {
            r["doc_id"]: (len(r["text"]) + 3) // 4
            for r in docs.select("doc_id", "text").collect()
        }
        assert got == want
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert plan.count("ArrowEvalPython") == 1
        assert "BatchEvalPython" not in plan  # the row-at-a-time path

    def test_auto_without_library_falls_back_to_bpe_ish(self, spark, docs):
        from ilogtail_spark.functions.textstats import (
            bpe_ish_token_count,
            token_count_exact,
            tokenizer_backend,
        )

        if tokenizer_backend() is not None:
            pytest.skip("a real tokenizer is installed; fallback not taken")
        out = token_count_exact(docs, out="n")
        ref = bpe_ish_token_count(docs, out="n")
        assert sorted(map(tuple, out.select("doc_id", "n").collect())) == sorted(
            map(tuple, ref.select("doc_id", "n").collect())
        )

    def test_real_tokenizer_when_available(self, spark, docs):
        """Exact model-token counts where tiktoken/tokenizers exists —
        validated against a driver-side encode of the same rows.
        Skipped in this sandbox (no tokenizer library baked in)."""
        from ilogtail_spark.functions.textstats import (
            token_count_exact,
            tokenizer_backend,
        )

        backend = tokenizer_backend()
        if backend is None:
            pytest.skip("no tokenizer library available")
        sample = docs.limit(20)
        got = {
            r["doc_id"]: r["n_tokens_exact"]
            for r in token_count_exact(sample).collect()
        }
        rows = sample.select("doc_id", "text").collect()
        if backend == "tiktoken":
            import tiktoken

            enc = tiktoken.get_encoding("cl100k_base")
            want = {
                r["doc_id"]: len(enc.encode_ordinary(r["text"])) for r in rows
            }
        else:
            from tokenizers import Tokenizer

            enc = Tokenizer.from_pretrained("gpt2")
            want = {
                r["doc_id"]: len(enc.encode(r["text"]).ids) for r in rows
            }
        assert got == want

    def test_budgets_thread_through_pack_greedy(self, spark):
        """`pack_greedy` consuming the pluggable column packs on the
        tokenizer's exact counts — bins never overflow the budget and
        every fill matches a driver-side greedy replay."""
        from ilogtail_spark.functions.packing import pack_greedy
        from ilogtail_spark.functions.textstats import token_count_exact

        docs = spark.createDataFrame(
            [(i, "s", "x" * (7 * i % 95 + 1)) for i in range(40)],
            "doc_id long, source string, text string",
        )
        fake = lambda texts: [(len(t) + 3) // 4 for t in texts]  # noqa: E731
        counted = token_count_exact(docs, tokenizer=fake)
        packed = pack_greedy(
            counted, group_col="source", order_col="doc_id",
            token_col="n_tokens_exact", max_tokens=30,
        ).collect()
        rows = sorted(packed, key=lambda r: r["doc_id"])
        bin_id, acc = 0, 0
        for r in rows:
            tok = (7 * r["doc_id"] % 95 + 1 + 3) // 4
            if acc and acc + tok > 30:
                bin_id, acc = bin_id + 1, 0
            acc += tok
            assert (r["bin_id"], r["bin_fill"]) == (bin_id, acc)
            assert r["bin_fill"] <= 30 or r["bin_id"] != rows[0]["bin_id"]


class TestQualityLogistic:
    def test_pluggable_weights_and_fused_plan(self, spark, docs):
        from ilogtail_spark.functions.textstats import quality_logistic

        out = quality_logistic(docs)
        rows = out.select("doc_id", "quality_prob").collect()
        assert all(0.0 <= r["quality_prob"] <= 1.0 for r in rows)
        # pluggable surface: a punctuation-only model must produce a
        # different ranking than the default
        alt = quality_logistic(docs, weights={"punct_ratio": -20.0})
        alt_rows = alt.select("doc_id", "quality_prob").collect()
        assert {r["doc_id"]: r["quality_prob"] for r in rows} != {
            r["doc_id"]: r["quality_prob"] for r in alt_rows
        }
        # one fused projection: no shuffle, no Python
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan.split("== Initial Plan ==")[0]
        assert "EvalPython" not in plan

    def test_monotone_in_a_single_feature(self, spark):
        """With a single positive stopword weight, more stopwords →
        strictly higher probability (sanity of the σ(w·x) chain)."""
        from ilogtail_spark.functions.textstats import quality_logistic

        docs = spark.createDataFrame(
            [(1, "zebra quux binary"),
             (2, "the of and zebra quux binary")],
            "doc_id long, text string",
        )
        got = {
            r["doc_id"]: r["quality_prob"]
            for r in quality_logistic(
                docs, weights={"stopword_ratio": 5.0}
            ).collect()
        }
        assert got[2] > got[1]


class TestTrainingShards:
    def test_write_read_order_and_determinism(self, spark, docs, tmp_path):
        from ilogtail_spark.functions.textstats import (
            training_shards,
            write_training_shards,
        )

        path = str(tmp_path / "shards")
        write_training_shards(docs, path, n_shards=8)
        back = spark.read.parquet(path)
        # nothing lost, shard ids in range
        assert back.count() == docs.count()
        shards = [r["shard"] for r in back.select("shard").distinct().collect()]
        assert all(0 <= s < 8 for s in shards)
        # file order within a shard IS shuffle_key order (the trainer
        # streams files as written — no sort at read time)
        import pyarrow.parquet as pq
        import glob
        import os

        for d in sorted(glob.glob(f"{path}/shard=*")):
            keys = []
            for f in sorted(glob.glob(os.path.join(d, "*.parquet"))):
                keys.extend(pq.read_table(f, columns=["shuffle_key"])
                            .column("shuffle_key").to_pylist())
            assert keys == sorted(keys)
        # deterministic: same salt → same assignment; new salt → reshuffle
        a = training_shards(docs, n_shards=8).select("doc_id", "shard")
        b = training_shards(docs, n_shards=8).select("doc_id", "shard")
        assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))
        c = training_shards(docs, n_shards=8, salt="epoch2").select(
            "doc_id", "shuffle_key"
        )
        assert sorted(map(tuple, a.collect())) != sorted(map(tuple, c.collect()))

    def test_mixture_rates_temperature(self):
        from ilogtail_spark.functions.textstats import mixture_rates

        counts = {"en": 9000, "de": 900, "sw": 100}
        # T=1: proportional sampling = keep everything (no rebalance)
        assert mixture_rates(counts, 1.0) == {"en": 1.0, "de": 1.0, "sw": 1.0}
        # T<1: tail languages upweighted — rarest keeps all, biggest least
        r = mixture_rates(counts, 0.7)
        assert r["sw"] == 1.0 and r["en"] < r["de"] < 1.0
        # kept_i ∝ p_i^T: check the ratio law
        import math

        kept = {k: counts[k] * r[k] for k in counts}
        want = (counts["en"] / counts["sw"]) ** 0.7
        assert math.isclose(kept["en"] / kept["sw"], want, rel_tol=1e-12)
        # target_frac scales expected kept mass
        r2 = mixture_rates(counts, 0.7, target_frac=0.5)
        kept2 = sum(counts[k] * r2[k] for k in counts)
        assert kept2 <= sum(counts.values()) * 0.5 + 1e-6


class TestUnigramNLL:
    """unigram_nll: CCNet-style LM quality tier — exact decimal-grid math."""

    def _docs(self, spark, rows):
        return spark.createDataFrame(
            [(i, t) for i, t in enumerate(rows)], "doc_id long, text string"
        )

    def test_self_scored_values(self, spark):
        import math

        from ilogtail_spark.functions.textstats import unigram_nll

        # corpus: 'a' x4, 'b' x2, 'c' x1 (c is sub-threshold -> OOV floor)
        docs = self._docs(spark, ["a a b", "a a b c"])
        out = {r["doc_id"]: r for r in unigram_nll(docs, min_count=2).collect()}
        total = 7
        lp = lambda c: round(math.log(c / total), 6)
        exp0 = round(-(2 * lp(4) + lp(2)) / 3, 6)
        exp1 = round(-(2 * lp(4) + lp(2) + lp(1)) / 4, 6)
        assert out[0]["n_tokens"] == 3 and abs(out[0]["nll"] - exp0) < 1e-12
        assert out[1]["n_tokens"] == 4 and abs(out[1]["nll"] - exp1) < 1e-12

    def test_pretrained_vocab_scores_new_docs(self, spark):
        import math

        from ilogtail_spark.functions.textstats import unigram_nll, unigram_vocab

        train = self._docs(spark, ["x x x y y", "x y"])  # x:4 y:3, total 7
        vocab, total = unigram_vocab(train, min_count=2)
        new = self._docs(spark, ["x zzz"])  # zzz is OOV -> floor 1/total
        out = unigram_nll(new, vocab=vocab, total=total).first()
        exp = round(-(round(math.log(4 / 7), 6) + round(math.log(1 / 7), 6)) / 2, 6)
        assert abs(out["nll"] - exp) < 1e-12

    def test_gibberish_scores_worse(self, spark):
        from ilogtail_spark.functions.textstats import unigram_nll

        docs = self._docs(
            spark, ["the cat sat", "the cat ran", "the dog sat", "qzx vbn wpl"]
        )
        out = {r["doc_id"]: r["nll"] for r in unigram_nll(docs, min_count=2).collect()}
        assert out[3] > max(out[0], out[1], out[2])

    def test_vocab_total_must_pair(self, spark):
        import pytest as _pytest

        from ilogtail_spark.functions.textstats import unigram_nll, unigram_vocab

        docs = self._docs(spark, ["a b"])
        vocab, _ = unigram_vocab(docs)
        with _pytest.raises(ValueError, match="both"):
            unigram_nll(docs, vocab=vocab)


class TestBigramNLL:
    """bigram_nll: the KenLM-shaped tier above unigram — conditional
    probabilities, context denominators, unseen-context floor."""

    def _docs(self, spark, rows):
        return spark.createDataFrame(
            [(i, t) for i, t in enumerate(rows)], "doc_id long, text string"
        )

    def test_self_scored_values(self, spark):
        import math

        from ilogtail_spark.functions.textstats import bigram_nll

        # bigrams: (a,b) x2, (b,a) x1, (a,c) x1; ctx a=3, b=1
        docs = self._docs(spark, ["a b a b", "a c"])
        out = {r["doc_id"]: r for r in bigram_nll(docs, min_count=2).collect()}
        lp = lambda c, d: round(math.log(c / d), 6)
        # doc0: (a,b)=2/3, (b,a)=floor 1/1, (a,b)=2/3
        exp0 = round(-(2 * lp(2, 3) + lp(1, 1)) / 3, 6)
        # doc1: (a,c) sub-threshold -> floor 1/ctx(a)=1/3
        exp1 = round(-lp(1, 3) / 1, 6)
        assert out[0]["n_bigrams"] == 3 and abs(out[0]["nll"] - exp0) < 1e-12
        assert out[1]["n_bigrams"] == 1 and abs(out[1]["nll"] - exp1) < 1e-12

    def test_short_docs_drop_out(self, spark):
        from ilogtail_spark.functions.textstats import bigram_nll

        docs = self._docs(spark, ["solo", "two words"])
        got = {r["doc_id"] for r in bigram_nll(docs, min_count=1).collect()}
        assert got == {1}

    def test_pretrained_unseen_context_floor(self, spark):
        import math

        from ilogtail_spark.functions.textstats import bigram_nll, bigram_vocab

        train = self._docs(spark, ["a b a b a b"])  # (a,b)x3 (b,a)x2, total 5
        model = bigram_vocab(train, min_count=1)
        new = self._docs(spark, ["z q"])  # context z unseen -> 1/total=1/5
        out = bigram_nll(new, model=model).first()
        exp = round(-round(math.log(1 / 5), 6) / 1, 6)
        assert out["n_bigrams"] == 1 and abs(out["nll"] - exp) < 1e-12

    def test_scrambled_text_scores_worse_than_fluent(self, spark):
        from ilogtail_spark.functions.textstats import bigram_nll

        fluent = "the cat sat on the mat " * 4
        scrambled = "mat the on sat the cat " * 4
        docs = self._docs(spark, [fluent + "the cat sat on the mat",
                                  scrambled + "cat mat sat the on the"])
        out = {r["doc_id"]: r["nll"] for r in bigram_nll(docs, min_count=2).collect()}
        assert out[1] > out[0]


class TestWeightedSample:
    """weighted_sample: E–S priorities replayed exactly in pure Python."""

    def _docs(self, spark, n=40):
        rows = [(i, f"s{i % 3}", (i % 7) + 1) for i in range(n)]
        return spark.createDataFrame(rows, "doc_id long, lang string, n_chars long")

    @staticmethod
    def _expected(rows, k, salt="ws1"):
        import hashlib
        import math
        from collections import defaultdict

        pri = {}
        for i, lang, w in rows:
            h = int(hashlib.md5(f"{salt}:{i}".encode()).hexdigest()[:15], 16)
            u = (float(h) + 1.0) / float(16**15)
            pri[i] = round(round(math.log(u), 9) / float(w), 9)
        by = defaultdict(list)
        for i, lang, w in rows:
            by[lang].append(i)
        keep = set()
        for lang, ids in by.items():
            ids.sort(key=lambda i: (-pri[i], i))
            keep.update(ids[:k])
        return keep

    def test_matches_python_replay(self, spark):
        from ilogtail_spark.functions.textstats import weighted_sample

        rows = [(i, f"s{i % 3}", (i % 7) + 1) for i in range(40)]
        got = {
            r["doc_id"]
            for r in weighted_sample(
                self._docs(spark), 4, "n_chars", strata_col="lang"
            ).collect()
        }
        assert got == self._expected(rows, 4)

    def test_global_topk_and_determinism(self, spark):
        from ilogtail_spark.functions.textstats import weighted_sample

        d = self._docs(spark)
        a = {r["doc_id"] for r in weighted_sample(d, 6, "n_chars").collect()}
        b = {r["doc_id"] for r in weighted_sample(d, 6, "n_chars").collect()}
        assert a == b and len(a) == 6

    def test_nonpositive_weights_dropped(self, spark):
        from ilogtail_spark.functions.textstats import weighted_sample

        d = spark.createDataFrame(
            [(1, "a", 5), (2, "a", 0), (3, "a", -2), (4, "a", None)],
            "doc_id long, lang string, n_chars long",
        )
        got = {r["doc_id"] for r in weighted_sample(d, 10, "n_chars").collect()}
        assert got == {1}

    def test_heavy_weight_wins_mass(self, spark):
        # with one weight 10^6 x the rest, the heavy row survives k=1
        # for the default salt (checked against the replay, not luck)
        from ilogtail_spark.functions.textstats import weighted_sample

        rows = [(i, "a", 1_000_000 if i == 7 else 1) for i in range(20)]
        d = spark.createDataFrame(rows, "doc_id long, lang string, n_chars long")
        got = {r["doc_id"] for r in weighted_sample(d, 1, "n_chars").collect()}
        assert got == self._expected(rows, 1)


class TestKmeansDistributed:
    """kmeans_train_distributed: full-corpus Lloyd's vs a numpy replay."""

    @staticmethod
    def _numpy_replay(ids, vecs, k, iters):
        import hashlib

        import numpy as np

        x = np.asarray(vecs, dtype=np.float64)
        x = x / np.linalg.norm(x, axis=1, keepdims=True)
        order = sorted(range(len(ids)), key=lambda i: hashlib.md5(str(ids[i]).encode()).hexdigest())
        cent = x[order[:k]].copy()
        for _ in range(iters):
            # same rule as kmeans_step: argmax(cos + c_id*1e-9)
            scores = x @ cent.T + np.arange(k) * 1e-9
            assign = np.argmax(scores, axis=1)
            for j in range(k):
                m = x[assign == j]
                if len(m):
                    # decimal-grid mean like the distributed step
                    g = np.round(m, 6).sum(axis=0) / len(m)
                    g = np.round(g, 6)
                    n = np.linalg.norm(g)
                    if n > 0:
                        cent[j] = g / n
        return cent

    def test_matches_numpy_replay(self, spark):
        import numpy as np

        from ilogtail_spark.functions.similarity import kmeans_train_distributed

        emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet").limit(120)
        rows = emb.select("vec_id", "embedding").collect()
        ids = [r["vec_id"] for r in rows]
        vecs = [[float(x) for x in r["embedding"]] for r in rows]
        got = kmeans_train_distributed(emb, k=4, iters=2)
        exp = self._numpy_replay(ids, vecs, 4, 2)
        gm = np.array([v for _, v in got])
        # both sides agree to a few 1e-6 grid steps: np.round is
        # half-EVEN while Spark's round is half-UP, so components that
        # land on a .0000005 boundary differ by one grid cell and the
        # unit renormalization mixes that across dims (measured 3.8e-6)
        assert np.max(np.abs(gm - exp)) < 1e-5

    def test_trained_centroids_plug_into_ivf(self, spark):
        from ilogtail_spark.functions.similarity import (
            brute_force_topk,
            ivf_topk,
            kmeans_train_distributed,
        )

        emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet").limit(200)
        cents = kmeans_train_distributed(emb, k=8, iters=2)
        qs = emb.filter(F.col("vec_id") < 2)
        ivf = ivf_topk(emb, qs, k=3, n_probes=4, centroids=cents)
        exact = brute_force_topk(emb, qs, k=3)
        hit = {(r["q_id"], r["n_id"]) for r in ivf.collect()}
        want = {(r["q_id"], r["n_id"]) for r in exact.collect()}
        # recall@3 with half the lists probed should be high on 200 vecs
        assert len(hit & want) >= len(want) * 0.5

    def test_deterministic_across_runs(self, spark):
        from ilogtail_spark.functions.similarity import kmeans_train_distributed

        emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet").limit(100)
        a = kmeans_train_distributed(emb, k=3, iters=1)
        b = kmeans_train_distributed(emb, k=3, iters=1)
        assert a == b


class TestEmbeddingDrift:
    def test_shifted_groups_show_delta(self, spark):
        from ilogtail_spark.functions.similarity import embedding_drift

        rows = [
            (0, [0.5, 0.5], 0), (1, [0.3, 0.7], 0),
            (2, [0.1, 0.9], 1), (3, [0.2, 0.8], 1),
        ]
        old = spark.createDataFrame(
            rows, "vec_id long, embedding array<double>, label int"
        )
        new = old.withColumn(
            "embedding",
            F.when(
                F.col("label") == 1,
                F.transform("embedding", lambda c: c + F.lit(0.25)),
            ).otherwise(F.col("embedding")),
        )
        out = {
            (r["label"], r["dim"]): (r["mean_old"], r["mean_new"], r["delta"])
            for r in embedding_drift(old, new).collect()
        }
        assert out[(0, 0)] == (0.4, 0.4, 0.0)
        assert out[(0, 1)] == (0.6, 0.6, 0.0)
        assert out[(1, 0)] == (0.15, 0.4, 0.25)
        assert out[(1, 1)] == (0.85, 1.1, 0.25)


class TestChunkDocuments:
    def _run(self, spark, text, **kw):
        from ilogtail_spark.functions.packing import chunk_documents

        df = spark.createDataFrame([(1, text)], DOC_SCHEMA)
        return sorted(
            (r["chunk_idx"], r["start_tok"], r["n_tok"], r["chunk_text"])
            for r in chunk_documents(df, **kw).collect()
        )

    def test_exact_multiple_no_overlap(self, spark):
        text = " ".join(f"t{i}" for i in range(8))
        got = self._run(spark, text, chunk_tokens=4, overlap=0)
        assert got == [
            (0, 0, 4, "t0 t1 t2 t3"),
            (1, 4, 4, "t4 t5 t6 t7"),
        ]

    def test_overlap_windows(self, spark):
        text = " ".join(f"t{i}" for i in range(10))
        got = self._run(spark, text, chunk_tokens=4, overlap=2)
        # starts at 0,2,4,6 — the chunk at 6 reaches token 9, so the
        # doc is fully covered in exactly ceil((n-k)/step)+1 chunks
        assert [g[1] for g in got] == [0, 2, 4, 6]
        assert got[-1] == (3, 6, 4, "t6 t7 t8 t9")
        # every adjacent pair shares exactly `overlap` tokens
        assert got[0][3].split()[2:] == got[1][3].split()[:2]
        # remainder case: 11 tokens leaves a genuine 3-token tail chunk
        got11 = self._run(
            spark, " ".join(f"t{i}" for i in range(11)),
            chunk_tokens=4, overlap=2,
        )
        assert got11[-1] == (4, 8, 3, "t8 t9 t10")

    def test_short_doc_single_chunk(self, spark):
        got = self._run(spark, "a b c", chunk_tokens=10, overlap=3)
        assert got == [(0, 0, 3, "a b c")]

    def test_bad_overlap_raises(self, spark):
        import pytest

        with pytest.raises(ValueError):
            self._run(spark, "a", chunk_tokens=4, overlap=4)
