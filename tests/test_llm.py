"""LLM-pipeline operator properties: dedup idempotence, LSH recall,
similarity-search sanity."""

from __future__ import annotations

from pyspark.sql import functions as F

from psvm_spark import registry
from psvm_spark.catalog import load_table

registry.load_all()


class TestDedup:
    def test_exact_dedup_idempotent(self, spark, sf_dir):
        out = registry.QUERIES["dedup_exact"](spark, sf_dir)
        # dedup(dedup(x)) == dedup(x): digests already unique
        assert out.count() == out.select("digest").distinct().count()

    def test_minhash_full_recall_on_fixture(self, spark, sf_dir):
        """LSH banding (8 bands x 2 rows) recovers every true pair with
        Jaccard >= 0.5 on the fixture corpus — candidate pruning loses
        nothing here, and the output is deterministic (no RNG)."""
        mh = {(r.id_a, r.id_b) for r in registry.QUERIES["dedup_minhash"](spark, sf_dir).collect()}
        truth = {
            (r.id_a, r.id_b)
            for r in registry.QUERIES["dedup_ngram_jaccard"](spark, sf_dir)
            .filter(F.col("jaccard") >= 0.5)
            .collect()
        }
        # dedup_ngram_jaccard samples doc_id%5==0; restrict minhash to that
        mh_sampled = {(a, b) for a, b in mh if a % 5 == 0 and b % 5 == 0}
        assert truth <= mh_sampled

    def test_minhash_deterministic(self, spark, sf_dir):
        a = sorted(map(tuple, registry.QUERIES["dedup_minhash"](spark, sf_dir).collect()))
        b = sorted(map(tuple, registry.QUERIES["dedup_minhash"](spark, sf_dir).collect()))
        assert a == b


class TestSimilarity:
    def test_topk_scores_bounded_and_ranked(self, spark, sf_dir):
        rows = registry.QUERIES["sim_topk_cosine"](spark, sf_dir).collect()
        assert all(-1.0 - 1e-9 <= r.cosine <= 1.0 + 1e-9 for r in rows)
        by_probe = {}
        for r in rows:
            by_probe.setdefault(r.i, []).append(r)
        for probe, rs in by_probe.items():
            rs.sort(key=lambda r: r.rank)
            scores = [r.cosine for r in rs]
            assert scores == sorted(scores, reverse=True), f"probe {probe} not ranked"

    def test_ann_lsh_recall_at_10(self, spark, sf_dir):
        """ANN top-10 by L2 should overlap heavily with exact cosine
        top-10 is not guaranteed (different metric); instead check the
        ANN result against exact L2 top-10."""
        from psvm_spark.ml.kernels import sq_l2

        e = load_table(spark, sf_dir, "embeddings")
        probes = e.filter(F.col("vec_id") % 50 == 0).select(
            F.col("vec_id").alias("i"), F.col("embedding").alias("vp")
        )
        corpus = e.select(F.col("vec_id").alias("j"), F.col("embedding").alias("ve"))
        from pyspark.sql import Window

        w = Window.partitionBy("i").orderBy(F.col("d").asc(), F.col("j").asc())
        exact = (
            probes.crossJoin(corpus)
            .filter(F.col("i") != F.col("j"))
            .select("i", "j", F.sqrt(sq_l2(F.col("vp"), F.col("ve"))).alias("d"))
            .withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= 10)
            .collect()
        )
        truth = {}
        for r in exact:
            truth.setdefault(r.i, set()).add(r.j)
        ann = registry.QUERIES["sim_ann_lsh"](spark, sf_dir).collect()
        got = {}
        for r in ann:
            got.setdefault(r.i, set()).add(r.j)
        recalls = [
            len(got.get(i, set()) & js) / len(js) for i, js in truth.items()
        ]
        assert sum(recalls) / len(recalls) >= 0.5, recalls


class TestTextAnalysis:
    def test_tfidf_positive(self, spark, sf_dir):
        rows = registry.QUERIES["text_tfidf_top"](spark, sf_dir).collect()
        assert len(rows) > 0 and all(r.tfidf >= 0 for r in rows)

    def test_quality_filter_ratios(self, spark, sf_dir):
        rows = registry.QUERIES["text_quality_filter"](spark, sf_dir).collect()
        assert all(0 <= r.avg_stop_ratio <= 1 for r in rows)
        assert all(r.n_quality <= r.n_docs for r in rows)


class TestSimhash:
    def test_banding_loses_no_pair(self, spark, sf_dir):
        """Pigeonhole guarantee: with 4 blocks of 16 bits, any pair at
        hamming <= 3 shares a block — the banded candidate join must
        find exactly the brute-force pair set."""
        from psvm_spark.queries.llm import _SIMHASH_FP_SPARK, _SIMHASH_MAX_HAMMING

        out = {
            (r.id_a, r.id_b): r.hamming
            for r in registry.QUERIES["dedup_simhash"](spark, sf_dir).collect()
        }
        d = load_table(spark, sf_dir, "documents")
        fp = d.select("doc_id", F.expr(_SIMHASH_FP_SPARK).alias("f"))
        a = fp.select(F.col("doc_id").alias("id_a"), F.col("f").alias("fa"))
        b = fp.select(F.col("doc_id").alias("id_b"), F.col("f").alias("fb"))
        brute = {
            (r.id_a, r.id_b): r.hamming
            for r in a.join(b, F.col("id_a") < F.col("id_b"))
            .withColumn("hamming", F.expr("size(filter(zip_with(fa, fb, (x, y) -> x <> y), v -> v))"))
            .filter(F.col("hamming") <= _SIMHASH_MAX_HAMMING)
            .collect()
        }
        assert out == brute

    def test_hamming_bounds(self, spark, sf_dir):
        rows = registry.QUERIES["dedup_simhash"](spark, sf_dir).collect()
        assert all(0 <= r.hamming <= 3 for r in rows)
        assert all(r.id_a < r.id_b for r in rows)


class TestEmbeddingDedup:
    def test_threshold_and_ordering(self, spark, sf_dir):
        from psvm_spark.queries.llm import _COS_DEDUP_T

        rows = registry.QUERIES["dedup_embedding"](spark, sf_dir).collect()
        assert all(r.cosine >= _COS_DEDUP_T for r in rows)
        assert all(r.id_a < r.id_b for r in rows)
        assert all(r.cosine <= 1.0 + 1e-9 for r in rows)


class TestIVF:
    def test_ivf_subset_of_exact_candidates(self, spark, sf_dir):
        """Every IVF neighbor must come from the probe's nprobe clusters,
        and per-probe results are correctly ranked; recall vs exact
        brute-force top-10 is positive (ANN, not exact)."""
        ivf = registry.QUERIES["sim_ivf"](spark, sf_dir).collect()
        exact = registry.QUERIES["sim_topk_cosine"](spark, sf_dir).collect()
        assert ivf, "ivf returned no rows"
        by_probe = {}
        for r in ivf:
            by_probe.setdefault(r.i, []).append(r)
        for probe, rs in by_probe.items():
            assert len(rs) <= 10
            rs.sort(key=lambda r: r.rank)
            scores = [r.cosine for r in rs]
            assert scores == sorted(scores, reverse=True)
        ivf_pairs = {(r.i, r.j) for r in ivf}
        exact_pairs = {(r.i, r.j) for r in exact}
        recall = len(ivf_pairs & exact_pairs) / max(len(exact_pairs), 1)
        assert recall > 0.0


class TestStableSplit:
    def test_split_partitions_all_docs_near_ratios(self, spark, sf_dir):
        """Splits must cover every document exactly once and land near
        the 80/10/10 design ratios (md5 buckets are uniform; at 500 docs
        the binomial noise stays well inside +-8 points)."""
        rows = registry.QUERIES["split_stable_hash"](spark, sf_dir).collect()
        total_docs = load_table(spark, sf_dir, "documents").count()
        by_split = {}
        for r in rows:
            by_split[r.split] = by_split.get(r.split, 0) + r.n_docs
        assert sum(by_split.values()) == total_docs
        assert set(by_split) == {"train", "val", "test"}
        assert 0.72 <= by_split["train"] / total_docs <= 0.88
        assert 0.04 <= by_split["val"] / total_docs <= 0.18
        assert 0.04 <= by_split["test"] / total_docs <= 0.18

    def test_split_is_stable_across_runs(self, spark, sf_dir):
        a = sorted(map(tuple, registry.QUERIES["split_stable_hash"](spark, sf_dir).collect()))
        b = sorted(map(tuple, registry.QUERIES["split_stable_hash"](spark, sf_dir).collect()))
        assert a == b


class TestCurationOps:
    def test_decontaminate_flags_only_real_overlaps(self, spark, sf_dir):
        """Every flagged train doc must actually share a 4-gram with the
        test split; counts are positive and bounded by the doc's own
        distinct shingle count."""
        from psvm_spark.queries.llm import _SHINGLE_SPARK

        hits = registry.QUERIES["decontaminate_ngram"](spark, sf_dir).collect()
        assert hits, "fixture corpus is known to have cross-split overlaps"
        d = load_table(spark, sf_dir, "documents")
        pct = F.conv(F.substring(F.md5("text"), 1, 4), 16, 10).cast("int") % 100
        base = d.select("doc_id", "text", pct.alias("pct"))
        sh = F.array_distinct(F.expr(_SHINGLE_SPARK))
        test_set = {
            r.s
            for r in base.filter(F.col("pct") >= 90)
            .select(F.explode(sh).alias("s"))
            .distinct()
            .collect()
        }
        train_sh = {
            r.doc_id: set(r.sh)
            for r in base.filter(F.col("pct") < 80).select("doc_id", sh.alias("sh")).collect()
        }
        for r in hits:
            overlap = train_sh[r.doc_id] & test_set
            assert r.n_hit_shingles == len(overlap) > 0

    def test_repetition_ratio_bounds(self, spark, sf_dir):
        rows = registry.QUERIES["text_repetition"](spark, sf_dir).collect()
        assert rows
        for r in rows:
            assert r.n_bigrams >= 1
            assert 0.0 <= r.dup_frac < 1.0

    def test_group_cap_enforced_and_stable(self, spark, sf_dir):
        res = registry.QUERIES["sample_per_group_cap"](spark, sf_dir)
        rows = res.collect()
        per_src = {}
        for r in rows:
            per_src[r.source] = per_src.get(r.source, 0) + 1
        from psvm_spark.queries.llm import _GROUP_CAP

        assert all(n <= _GROUP_CAP for n in per_src.values())
        # groups smaller than the cap keep everything
        totals = {
            r.source: r.n
            for r in load_table(spark, sf_dir, "documents")
            .groupBy("source")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }
        for src, n in totals.items():
            assert per_src.get(src, 0) == min(n, _GROUP_CAP)
        again = sorted(map(tuple, res.collect()))
        assert sorted(map(tuple, rows)) == again

    def test_pack_sequences_invariants(self, spark, sf_dir):
        from psvm_spark.queries.llm import _PACK_BUDGET, _PACK_SHARDS

        rows = registry.QUERIES["pack_sequences"](spark, sf_dir).collect()
        total_docs = load_table(spark, sf_dir, "documents").count()
        assert len(rows) == total_docs
        streams = {}
        for r in rows:
            assert 0 <= r.seq_offset < _PACK_BUDGET
            assert 0 <= r.shard < _PACK_SHARDS
            streams.setdefault((r.lang, r.shard), []).append(r)
        for key, docs in streams.items():
            docs.sort(key=lambda r: r.doc_id)
            cum = 0
            for r in docs:
                assert r.seq_id == cum // _PACK_BUDGET
                assert r.seq_offset == cum % _PACK_BUDGET
                cum += r.n_tokens


class TestDedupComponents:
    def test_components_match_union_find(self, spark, sf_dir):
        """Cross-check the distributed label propagation against a
        pure-Python union-find over the same edge list."""
        from psvm_spark.queries.llm import _CC_MIN_SHARED, _SHINGLE_SPARK

        d = load_table(spark, sf_dir, "documents")
        post = d.select(
            "doc_id", F.explode(F.array_distinct(F.expr(_SHINGLE_SPARK))).alias("s")
        )
        pairs = (
            post.alias("pa")
            .join(post.alias("pb"), "s")
            .filter(F.col("pa.doc_id") < F.col("pb.doc_id"))
            .groupBy(F.col("pa.doc_id").alias("ia"), F.col("pb.doc_id").alias("ib"))
            .agg(F.count(F.lit(1)).alias("n"))
            .filter(F.col("n") >= _CC_MIN_SHARED)
            .collect()
        )
        parent = {}

        def find(x):
            parent.setdefault(x, x)
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for r in pairs:
            ra, rb = find(r.ia), find(r.ib)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        expected = {}
        for v in parent:
            expected.setdefault(find(v), set()).add(v)
        got_rows = registry.QUERIES["dedup_components"](spark, sf_dir).collect()
        got = {}
        for r in got_rows:
            got.setdefault(r.component, set()).add(r.doc_id)
        assert {frozenset(s) for s in got.values()} == {
            frozenset(s) for s in expected.values()
        }
        # label is the min member of its cluster
        for comp, members in got.items():
            assert comp == min(members)

    def test_components_raises_without_convergence(self, spark):
        from psvm_spark.operators.components import connected_components

        edges = spark.createDataFrame([(1, 2), (2, 3)], ["a", "b"])
        import pytest

        with pytest.raises(RuntimeError):
            connected_components(edges, max_iter=0, driver_threshold=0)

    def test_star_contraction_on_long_path(self, spark):
        """Diameter guard: a 10k-hop path would need 10k propagation
        rounds; the large-star/small-star fallback must close it within
        the default caps."""
        from psvm_spark.operators.components import connected_components

        n = 10_000
        edges = spark.range(n).select(F.col("id").alias("a"), (F.col("id") + 1).alias("b"))
        got = connected_components(edges, max_iter=25, driver_threshold=0)
        assert got.count() == n + 1
        assert got.filter(F.col("component") != 0).count() == 0

    def test_star_contraction_directly(self, spark):
        """_star_components alone matches union-find on a mixed graph
        (two chains + a clique + a singleton-ish pair)."""
        from psvm_spark.operators.components import _star_components

        edges = (
            [(i, i + 1) for i in range(0, 50)]          # chain 0..50
            + [(i, i + 1) for i in range(100, 140)]      # chain 100..140
            + [(a, b) for a in range(200, 205) for b in range(a + 1, 205)]  # clique
            + [(300, 301)]
        )
        e = spark.createDataFrame(edges, "s long, d long")
        e = e.union(e.select(F.col("d").alias("s"), F.col("s").alias("d")))
        got = {r.v: r.component for r in _star_components(e).collect()}
        for v in range(0, 51):
            assert got[v] == 0
        for v in range(100, 141):
            assert got[v] == 100
        for v in range(200, 205):
            assert got[v] == 200
        assert got[300] == 300 and got[301] == 300


class TestSampleMixture:
    def test_mixture_rates_enforced(self, spark, sf_dir):
        from psvm_spark.queries.llm import _MIX_RATES

        rows = {r.lang: r for r in registry.QUERIES["sample_mixture"](spark, sf_dir).collect()}
        assert set(rows) == set(_MIX_RATES)
        for lg, r in rows.items():
            assert r.n_kept <= r.n_total
            assert abs(r.kept_frac - r.n_kept / r.n_total) < 1e-12
        # 100%-rate languages keep everything; en is downsampled hard
        assert rows["de"].kept_frac == 1.0
        assert rows["es"].kept_frac == 1.0
        assert 0.30 <= rows["en"].kept_frac <= 0.70


class TestIvfKmeans:
    def test_recall_vs_bruteforce(self, spark, sf_dir):
        """The k-means-quantized IVF must beat its scan fraction: with
        nprobe=3 of k=8 it reads 3/8 of the corpus, so recall well above
        0.375 means the quantizer actually clusters."""
        bf = registry.QUERIES["sim_topk_cosine"](spark, sf_dir).collect()
        ivf = registry.QUERIES["sim_ivf_kmeans"](spark, sf_dir).collect()
        truth, got = {}, {}
        for r in bf:
            truth.setdefault(r.i, set()).add(r.j)
        for r in ivf:
            got.setdefault(r.i, set()).add(r.j)
        recalls = [len(got.get(i, set()) & js) / len(js) for i, js in truth.items()]
        assert sum(recalls) / len(recalls) >= 0.5, recalls

    def test_candidates_only_from_probed_clusters(self, spark, sf_dir):
        """Every reported neighbor pair shares a probed cluster, and
        per-probe results are correctly ranked by cosine descending."""
        rows = registry.QUERIES["sim_ivf_kmeans"](spark, sf_dir).collect()
        per_probe = {}
        for r in rows:
            per_probe.setdefault(r.i, []).append(r)
        for i, rs in per_probe.items():
            rs.sort(key=lambda r: r.rank)
            assert [r.rank for r in rs] == list(range(1, len(rs) + 1))
            cosines = [r.cosine for r in rs]
            assert cosines == sorted(cosines, reverse=True)

    def test_driver_path_equals_distributed(self, spark):
        """The small-graph union-find fallback must agree with the
        distributed propagation on the same graph."""
        from psvm_spark.operators.components import connected_components

        edges = (
            [(i, i + 1) for i in range(0, 30)]
            + [(100, 101), (101, 102), (200, 201)]
        )
        e = spark.createDataFrame(edges, "a long, b long")
        drv = {r.v: r.component for r in connected_components(e).collect()}
        dist = {
            r.v: r.component
            for r in connected_components(e, driver_threshold=0).collect()
        }
        assert drv == dist


class TestCompressionRatio:
    def test_bounds_determinism_and_repetition_signal(self, spark, sf_dir):
        """Ratios live in (0, ~1.2]; the query is deterministic; and a
        pathologically repetitive text compresses far below the corpus
        documents (which are word salad over a small vocabulary)."""
        from psvm_spark.registry import QUERIES

        a = {r.ratio_decile: (r.n_docs, r.mean_ratio)
             for r in QUERIES["text_compression_ratio"](spark, sf_dir).collect()}
        b = {r.ratio_decile: (r.n_docs, r.mean_ratio)
             for r in QUERIES["text_compression_ratio"](spark, sf_dir).collect()}
        assert a == b and a
        assert all(0 <= k <= 9 for k in a)
        import zlib

        rep = ("spam " * 400).encode()
        corpus_like = " ".join(f"w{i % 37}" for i in range(400)).encode()
        assert len(zlib.compress(rep, 6)) / len(rep) < 0.05
        assert len(zlib.compress(rep, 6)) / len(rep) < \
            len(zlib.compress(corpus_like, 6)) / len(corpus_like)


class TestBoundaryOverlap:
    def test_planted_overlap_is_found(self, spark, tmp_path):
        """The fixture corpus has no boundary overlaps (0 rows is the
        correct answer there), so plant one: doc 2's first 6 tokens
        equal doc 1's last 6.  The detector must return exactly that
        pair and nothing else."""
        from psvm_spark.registry import QUERIES

        run = "alpha beta gamma delta epsilon zeta"
        docs = [
            (1, "one two three four five six " + run, "en", "web", 60),
            (2, run + " seven eight nine ten eleven twelve", "en", "web", 60),
            (3, "unrelated words that share nothing at all here today", "en", "web", 50),
        ]
        df = spark.createDataFrame(
            docs, "doc_id long, text string, lang string, source string, n_chars long"
        )
        sf = str(tmp_path)
        df.write.mode("overwrite").parquet(sf + "/documents.parquet")
        rows = QUERIES["dedup_boundary_overlap"](spark, sf).collect()
        assert len(rows) == 1
        assert (rows[0].id_tail, rows[0].id_head) == (1, 2)
        assert rows[0].shared_run == run


class TestSubstringCorpus:
    def test_planted_duplicates_first_occurrence_survives(self, spark, tmp_path):
        """Full duplicate of doc 1 is fully removed from doc 2 (first
        occurrence survives); a doc embedding a 22-token verbatim slice
        of doc 1 loses exactly those 22 tokens; unrelated text loses 0."""
        from psvm_spark.registry import QUERIES

        a = [f"tok{i}" for i in range(30)]
        docs = [
            (1, " ".join(a), "en", "web", 200),
            (2, " ".join(a), "en", "web", 200),  # verbatim copy
            (3, " ".join(f"other{i}" for i in range(25)), "en", "web", 180),
            (4, " ".join([f"pre{i}" for i in range(10)] + a[:22]), "en", "web", 220),
        ]
        df = spark.createDataFrame(
            docs, "doc_id long, text string, lang string, source string, n_chars long"
        )
        sf = str(tmp_path)
        df.write.mode("overwrite").parquet(sf + "/documents.parquet")
        out = {r.doc_id: r for r in QUERIES["dedup_substring_corpus"](spark, sf).collect()}
        assert out[1].removed_tokens == 0 and out[1].kept_frac == 1.0
        assert out[2].removed_tokens == 30 and out[2].kept_frac == 0.0
        assert out[3].removed_tokens == 0
        # doc 4: windows at pos 11..13 (the three 20-grams inside the
        # 22-token slice) union to exactly 22 removed tokens
        assert out[4].removed_tokens == 22
        assert out[4].n_dup_windows == 3
        assert abs(out[4].kept_frac - 10 / 32) < 1e-12


class TestShingleDfCap:
    def test_hot_shingle_candidates_bounded(self, spark):
        """Plant one viral boilerplate shingle shared by EVERY doc plus a
        rare shingle shared by exactly one pair.  Uncapped, the posting
        self-join yields all n*(n-1)/2 pairs (df^2 blowup); with the df
        cap the candidate set must contain only the rare-shingle pair —
        proving candidate count is bounded by cap * |postings|, not by
        the hot shingle's df^2."""
        from psvm_spark.queries.llm import df_capped_postings

        n = 40
        rows = [(i, "viral-boilerplate") for i in range(n)]
        rows += [(7, "rare-shingle"), (23, "rare-shingle")]
        post = spark.createDataFrame(rows, "doc_id long, s string")

        def pairs(p):
            return (
                p.alias("a")
                .join(p.alias("b"), "s")
                .filter(F.col("a.doc_id") < F.col("b.doc_id"))
                .select(F.col("a.doc_id").alias("ia"), F.col("b.doc_id").alias("ib"))
                .distinct()
            )

        uncapped = pairs(post).count()
        capped = pairs(df_capped_postings(post, cap=10)).collect()
        # (7,23) shares both shingles, so distinct() folds it into the
        # n*(n-1)/2 hot-pair blowup
        assert uncapped == n * (n - 1) // 2
        assert [(r.ia, r.ib) for r in capped] == [(7, 23)]

    def test_cap_no_op_below_threshold(self, spark):
        """df <= cap leaves the posting list untouched (fixture parity
        relies on this: at sf0.01 no shingle approaches the cap)."""
        from psvm_spark.queries.llm import df_capped_postings

        post = spark.createDataFrame(
            [(1, "a"), (2, "a"), (3, "b")], "doc_id long, s string"
        )
        assert df_capped_postings(post, cap=2).count() == 3


class TestBpeMerges:
    def test_merge_table_shape_and_monotonicity(self, spark, sf_dir):
        """K merge steps, each with a non-empty pair; max pair count is
        non-increasing (a merged pair's successors can never out-count
        the pair they were built from), and the sequence is
        deterministic for a fixed corpus."""
        from psvm_spark.queries.llm import _BPE_STEPS
        from psvm_spark.registry import QUERIES

        rows = sorted(
            QUERIES["vocab_bpe_merges"](spark, sf_dir).collect(),
            key=lambda r: r.step,
        )
        assert [r.step for r in rows] == list(range(_BPE_STEPS))
        assert all(r.merge_left and r.merge_right for r in rows)
        counts = [r.pair_count for r in rows]
        assert counts == sorted(counts, reverse=True)
        rows2 = sorted(
            QUERIES["vocab_bpe_merges"](spark, sf_dir).collect(),
            key=lambda r: r.step,
        )
        assert [tuple(r) for r in rows] == [tuple(r) for r in rows2]

    def test_greedy_merge_is_left_to_right_non_overlapping(self, spark):
        """The token-list fold implements BPE's greedy scan exactly —
        including adjacent repeats of the merged pair, where a single
        delimited-string replace() under-merges (ADVICE r6): 'abab' +
        (a,b) -> [ab, ab] (replace() would give [ab, a, b] because the
        first match consumes the shared delimiter), 'aaaaa' + (a,a) ->
        [aa, aa, a], 'aaa' + (a,a) -> [aa, a].  Both engines must agree
        word-for-word."""
        import duckdb
        from pyspark.sql import functions as F

        from psvm_spark.queries.llm import _BPE_SEP as S

        cases = [
            ("abab", "a", "b", ["ab", "ab"]),
            ("aaaaa", "a", "a", ["aa", "aa", "a"]),
            ("aaa", "a", "a", ["aa", "a"]),
            ("aab", "a", "b", ["a", "ab"]),
            ("q", "a", "b", ["q"]),
        ]
        for w, a, b, want in cases:
            la = len(a)
            ds = S + S.join(w) + S
            folded = F.aggregate(
                F.expr(f"filter(split(ds, '{S}'), x -> x <> '')"),
                F.lit(S),
                lambda acc, t: F.when(
                    (t == F.lit(b))
                    & (F.substring(acc, -(la + 2), la + 2) == F.lit(S + a + S)),
                    F.concat(
                        F.substring(acc, F.lit(1), F.length(acc) - F.lit(la + 2)),
                        F.lit(S + a + b + S),
                    ),
                ).otherwise(F.concat(acc, t, F.lit(S))),
            )
            got = (
                spark.range(1)
                .select(F.lit(ds).alias("ds"))
                .select(folded.alias("m"))
                .collect()[0]
                .m
            )
            assert [x for x in got.split(S) if x] == want, (w, a, b, got)
            duck = duckdb.sql(
                f"""
                SELECT list_reduce(
                  list_prepend('{S}',
                    list_filter(string_split('{ds}', '{S}'), x -> x <> '')),
                  (acc, t) -> CASE
                    WHEN t = '{b}' AND acc[-(len('{a}')+2):] = '{S}' || '{a}' || '{S}'
                    THEN acc[1:len(acc)-len('{a}')-2] || '{S}' || '{a}' || '{b}' || '{S}'
                    ELSE acc || t || '{S}' END) AS m
                """
            ).fetchone()[0]
            assert duck == got, (w, a, b, duck, got)


class TestTemperatureMixture:
    def test_upweights_small_sources(self, spark, sf_dir):
        """Temperature alpha=0.5 keeps a HIGHER fraction of smaller
        sources than larger ones (monotone thresholds), and kept counts
        respect the threshold semantics."""
        rows = registry.QUERIES["sample_temperature_mixture"](spark, sf_dir).collect()
        assert rows
        by_size = sorted(rows, key=lambda r: r.n_total)
        thr = [r.keep_threshold_bp for r in by_size]
        assert thr == sorted(thr, reverse=True)  # smaller source -> higher rate
        for r in rows:
            assert 0 <= r.n_kept <= r.n_total
            assert 0 <= r.keep_threshold_bp <= 10000


class TestMatryoshka:
    def test_recall_consistency(self, spark, sf_dir):
        """Per-probe recall is n_recovered/10 in [0, 1]; probe set
        matches the exact-cosine query's probes."""
        rows = registry.QUERIES["sim_matryoshka_topk"](spark, sf_dir).collect()
        exact = registry.QUERIES["sim_topk_cosine"](spark, sf_dir).collect()
        assert {r.i for r in rows} == {r.i for r in exact}
        for r in rows:
            assert 0 <= r.n_recovered <= 10
            assert abs(r.recall_at_10 - r.n_recovered / 10) < 1e-12


class TestSemDedup:
    def test_counts_consistent(self, spark, sf_dir):
        """Per-cluster kept + removed == total; removals never exceed
        cluster size - 1 (the lowest id always survives)."""
        rows = registry.QUERIES["sim_semdedup"](spark, sf_dir).collect()
        assert len(rows) > 0
        for r in rows:
            assert r.n_kept + r.n_removed == r.n_vecs
            assert r.n_kept >= 1


class TestKeepBest:
    def test_keeps_longest(self, spark, sf_dir):
        """Every reported cluster has >= 2 members and the kept doc has
        the cluster's max n_chars."""
        df = registry.QUERIES["dedup_keep_best"](spark, sf_dir)
        rows = df.collect()
        assert all(r.n_dups >= 2 for r in rows)
        from pyspark.sql import functions as F
        d = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
            F.array_join(F.slice(F.split("text", " "), 1, 5), " ").alias("k"),
            "n_chars",
        )
        mx = {r.k: r.mx for r in d.groupBy("k").agg(F.max("n_chars").alias("mx")).collect()}
        for r in rows:
            assert r.kept_n_chars == mx[r.prefix_key]


class TestPerplexityLM:
    def test_bands_bounded(self, spark, sf_dir):
        """Bands are within the fixed-point scale; doc counts positive;
        mean score lies inside its band's score range only on average
        (band is per-doc, mean is per-band), so just sanity-bound it."""
        rows = registry.QUERIES["text_perplexity_lm"](spark, sf_dir).collect()
        assert len(rows) > 0
        for r in rows:
            assert 0 <= r.band <= 200
            assert r.n_docs > 0
            assert 0 <= r.mean_score <= 1_000_000


class TestRRFFusion:
    def test_fused_topk_shape(self, spark, sf_dir):
        """<= 5 rows per probe, dense fused ranks, and the fixed-point
        RRF score is bounded by two rank-1 contributions."""
        rows = registry.QUERIES["sim_rrf_fusion"](spark, sf_dir).collect()
        assert len(rows) > 0
        top = 1_000_000_000 // 61
        by_probe = {}
        for r in rows:
            by_probe.setdefault(r.i, []).append(r)
            assert 0 < r.rrf_scaled <= 2 * top
        for i, rs in by_probe.items():
            assert len(rs) <= 5
            assert sorted(r.fused_rank for r in rs) == list(range(1, len(rs) + 1))


class TestGopherRules:
    def test_rule_accounting(self, spark, sf_dir):
        """Failure counts never exceed group size; n_pass + any single
        rule's failures <= n_docs (pass requires all four rules)."""
        rows = registry.QUERIES["text_gopher_rules"](spark, sf_dir).collect()
        assert len(rows) > 0
        tot = sum(r.n_docs for r in rows)
        d = spark.read.parquet(f"{sf_dir}/documents.parquet").count()
        assert tot == d
        for r in rows:
            for f in (r.f_len, r.f_wordlen, r.f_stop, r.f_rep):
                assert 0 <= f <= r.n_docs
                assert r.n_pass + f <= r.n_docs


class TestPackNextfit:
    def test_nextfit_invariants(self, spark, sf_dir):
        """Pack ids are dense from 1 per source; every multi-doc pack
        fits the budget; a doc never skips a pack it would have fit in
        (next-fit property: consecutive packs' fills exceed the budget
        when combined with the first doc of the next pack)."""
        from psvm_spark.queries.llm import _NEXTFIT_BUDGET

        rows = registry.QUERIES["pack_nextfit"](spark, sf_dir).collect()
        d = spark.read.parquet(f"{sf_dir}/documents.parquet").count()
        assert len(rows) == d
        by_src = {}
        for r in rows:
            by_src.setdefault(r.source, []).append(r)
        for src, rs in by_src.items():
            rs.sort(key=lambda r: r.doc_id)
            fills = {}
            for r in rs:
                fills[r.pack_id] = fills.get(r.pack_id, 0) + r.n_tokens
            assert sorted(fills) == list(range(1, len(fills) + 1))
            for pid, fill in fills.items():
                n_in_pack = sum(1 for r in rs if r.pack_id == pid)
                if n_in_pack > 1:
                    assert fill <= _NEXTFIT_BUDGET
            # next-fit: first doc of pack p+1 would not have fit in pack p
            first_of = {}
            for r in rs:
                if r.pack_id not in first_of:
                    first_of[r.pack_id] = r.n_tokens
            for pid in range(1, len(fills)):
                assert fills[pid] + first_of[pid + 1] > _NEXTFIT_BUDGET


class TestShardRendezvous:
    def test_partition_of_corpus(self, spark, sf_dir):
        """Shards partition the corpus exactly: doc counts and doc_id
        checksums total the whole table; shard ids stay in range."""
        rows = registry.QUERIES["shard_rendezvous"](spark, sf_dir).collect()
        d = spark.read.parquet(f"{sf_dir}/documents.parquet")
        n = d.count()
        id_sum = d.groupBy().sum("doc_id").collect()[0][0]
        assert sum(r.n_docs for r in rows) == n
        assert sum(r.id_checksum for r in rows) == id_sum
        shards = [r.shard for r in rows]
        assert len(set(shards)) == len(shards)
        assert all(0 <= s < 8 for s in shards)

    def test_hrw_stability_under_shard_removal(self, spark, sf_dir):
        """The HRW property: dropping one shard only moves the docs
        that were on it (recompute winner over shards 0..6 locally)."""
        import hashlib

        d = spark.read.parquet(f"{sf_dir}/documents.parquet")
        ids = [r.doc_id for r in d.select("doc_id").limit(50).collect()]

        def winner(doc_id, shards):
            best = max(
                (int(hashlib.md5(f"{doc_id}:{s}".encode()).hexdigest()[:8], 16), -s)
                for s in shards
            )
            return -best[1]

        for i in ids:
            w8 = winner(i, range(8))
            w7 = winner(i, range(7))
            if w8 != 7:
                assert w7 == w8


class TestQuantileNormalize:
    def test_identical_distribution_across_sources(self, spark, sf_dir):
        """After normalization every equal-sized source carries the
        identical qn_chars multiset, drawn from global order stats,
        and qn is monotone in the raw feature within a source."""
        rows = registry.QUERIES["feat_quantile_normalize"](spark, sf_dir).collect()
        d = spark.read.parquet(f"{sf_dir}/documents.parquet")
        global_vals = sorted(r.n_chars for r in d.select("n_chars").collect())
        by_src = {}
        for r in rows:
            assert r.qn_chars in global_vals
            by_src.setdefault(r.source, []).append(r)
        sigs = {}
        for src, rs in by_src.items():
            rs.sort(key=lambda r: (r.n_chars, r.doc_id))
            qn = [r.qn_chars for r in rs]
            assert qn == sorted(qn)
            sigs.setdefault(len(rs), set()).add(tuple(sorted(qn)))
        for n, sig in sigs.items():
            assert len(sig) == 1


class TestSelectDSIR:
    def test_topk_raw_pool_only(self, spark, sf_dir):
        """Exactly K raw-pool docs, dominant (target) language excluded,
        dense ranks aligned with non-increasing scores."""
        from psvm_spark.queries.llm import _DSIR_KEEP

        rows = registry.QUERIES["select_dsir"](spark, sf_dir).collect()
        assert len(rows) == _DSIR_KEEP
        d = spark.read.parquet(f"{sf_dir}/documents.parquet")
        tgt = sorted(
            [(r["count"], r.lang) for r in d.groupBy("lang").count().collect()],
            key=lambda t: (-t[0], t[1]),
        )[0][1]
        rows.sort(key=lambda r: r.rk)
        assert [r.rk for r in rows] == list(range(1, _DSIR_KEEP + 1))
        for prev, cur in zip(rows, rows[1:]):
            assert prev.score_fp >= cur.score_fp
        assert all(r.lang != tgt for r in rows)


class TestUnimaxBudget:
    def test_waterfill_invariants(self, spark, sf_dir):
        """Allocations sum exactly to the budget, never over-draw a
        stratum, and unsaturated strata sit within one token of the
        common water level."""
        rows = registry.QUERIES["sample_unimax_budget"](spark, sf_dir).collect()
        d = spark.read.parquet(f"{sf_dir}/documents.parquet")
        from pyspark.sql import functions as F

        total = d.select(
            F.sum(F.size(F.split("text", " "))).alias("t")
        ).collect()[0].t
        budget = total * 60 // 100
        assert sum(r.alloc_tokens for r in rows) == budget
        unsat = []
        for r in rows:
            assert 0 <= r.alloc_tokens <= r.n_tokens
            if r.saturated:
                assert r.alloc_tokens == r.n_tokens
            else:
                unsat.append(r.alloc_tokens)
        assert unsat, "budget below total must leave unsaturated strata"
        assert max(unsat) - min(unsat) <= 1


class TestSubstringRunDedup:
    def test_planted_overlap_exact_run_length(self, spark):
        """Two docs sharing a verbatim 30-token run (at different offsets,
        different surroundings) must be reported with max_run_tokens
        exactly 30; unrelated docs must not pair."""
        from psvm_spark.queries.llm import (
            substring_gram_postings,
            substring_runs_from_postings,
        )

        run = " ".join(f"shared{i}" for i in range(30))
        docs = [
            (1, "alpha beta " + run + " gamma delta epsilon zeta"),
            (2, "one two three four " + run),
            (3, " ".join(f"solo{i}" for i in range(40))),
        ]
        d = spark.createDataFrame(docs, "doc_id long, text string")
        out = {
            (r.id_a, r.id_b): r
            for r in substring_runs_from_postings(
                substring_gram_postings(d), min_run=20
            ).collect()
        }
        assert set(out) == {(1, 2)}
        assert out[(1, 2)].max_run_tokens == 30
        assert out[(1, 2)].n_long_runs == 1

    def test_viral_gram_capped_out_of_seeding(self, spark):
        """A gram occurring in more docs than the cap must not generate
        candidate pairs by itself (boilerplate suppression), while a
        long run between two docs still surfaces via its other grams."""
        from psvm_spark.queries.llm import (
            df_capped_postings,
            substring_gram_postings,
            substring_runs_from_postings,
        )

        boiler = "all rights reserved worldwide"
        run = " ".join(f"tok{i}" for i in range(25))
        docs = [(i, f"doc{i} unique words {boiler}") for i in range(1, 9)]
        docs += [(100, "x " + run), (101, run + " y")]
        d = spark.createDataFrame(docs, "doc_id long, text string")
        grams = substring_gram_postings(d)
        capped = df_capped_postings(grams, s_col="gh", cap=4)
        out = {
            (r.id_a, r.id_b): r
            for r in substring_runs_from_postings(capped, min_run=20).collect()
        }
        assert set(out) == {(100, 101)}
        assert out[(100, 101)].max_run_tokens == 25

    def test_split_runs_counted_separately(self, spark):
        """Two disjoint shared runs on different diagonals are separate
        islands: n_long_runs counts both, max is the longer."""
        from psvm_spark.queries.llm import (
            substring_gram_postings,
            substring_runs_from_postings,
        )

        r1 = " ".join(f"a{i}" for i in range(22))
        r2 = " ".join(f"b{i}" for i in range(26))
        docs = [
            (1, r1 + " filler1 filler2 filler3 " + r2),
            (2, r2 + " mid1 mid2 " + r1),
        ]
        d = spark.createDataFrame(docs, "doc_id long, text string")
        row = substring_runs_from_postings(
            substring_gram_postings(d), min_run=20
        ).collect()
        assert len(row) == 1
        assert row[0].max_run_tokens == 26
        assert row[0].n_long_runs == 2


class TestRetrievalMetrics:
    def test_metric_bounds_and_consistency(self, spark, sf_dir):
        """Counts bounded by k and n_rel; DCG <= IDCG (ideal ranking
        dominates); MRR fixed-point is 0 or in [1e5, 1e6]; IDCG equals
        the prefix-table entry for min(n_rel, k)."""
        from psvm_spark.queries.llm import _RETR_K, _RETR_PFX

        rows = registry.QUERIES["ml_retrieval_metrics"](spark, sf_dir).collect()
        assert rows
        for r in rows:
            assert 0 <= r.n_rel_topk <= min(_RETR_K, r.n_rel)
            assert 0 <= r.dcg_fp <= r.idcg_fp
            assert r.rr_fp == 0 or 100000 <= r.rr_fp <= 1000000
            assert r.idcg_fp == _RETR_PFX[min(r.n_rel, _RETR_K)]
            assert (r.n_rel_topk == 0) == (r.rr_fp == 0) == (r.dcg_fp == 0)


class TestMmrSelect:
    def test_first_pick_is_top1_and_selections_distinct(self, spark, sf_dir):
        """Step 1 must equal the plain relevance argmax (empty penalty);
        all K selections per probe are distinct members of the candidate
        pool; step-1 score2 equals its dot product."""
        from psvm_spark.queries.llm import _MMR_K

        rows = registry.QUERIES["sim_mmr_select"](spark, sf_dir).collect()
        by_probe = {}
        for r in rows:
            by_probe.setdefault(r.probe_id, []).append(r)
        assert by_probe
        e = {
            r.vec_id: list(r.embedding)
            for r in load_table(spark, sf_dir, "embeddings").collect()
        }
        import math

        def quant(v):
            return [math.floor(float(x) * 1000.0 + 0.5) for x in v]

        for pid, rs in by_probe.items():
            rs.sort(key=lambda r: r.sel_step)
            assert [r.sel_step for r in rs] == list(range(1, _MMR_K + 1))
            ids = [r.vec_id for r in rs]
            assert len(set(ids)) == len(ids)
            pq = quant(e[pid])
            dots = {
                vid: sum(a * b for a, b in zip(quant(vec), pq))
                for vid, vec in e.items()
                if vid != pid
            }
            best = min(dots, key=lambda k: (-dots[k], k))
            assert rs[0].vec_id == best
            assert rs[0].score2 == dots[best]


class TestKCenterCoreset:
    def test_matches_numpy_greedy_replay(self, spark, sf_dir):
        """Greedy farthest-point selection must equal a NumPy replay on
        quantized vectors, and the radius sequence must be non-increasing
        from step 2 (the k-center coverage guarantee)."""
        import numpy as np

        from psvm_spark.catalog import load_table
        from psvm_spark.queries.llm import _KC_K

        e = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding").collect()
        e.sort(key=lambda r: r.vec_id)
        ids = np.array([r.vec_id for r in e])
        q = np.floor(
            np.array([[float(x) for x in r.embedding] for r in e]) * 1000.0 + 0.5
        ).astype(np.int64)
        sel = [0]
        want = [(1, int(ids[0]), 0)]
        mind = ((q - q[0]) ** 2).sum(axis=1)
        for step in range(2, min(_KC_K, len(ids)) + 1):
            m = mind.copy()
            m[sel] = -1
            best = np.lexsort((ids, -m))[0]
            want.append((step, int(ids[best]), int(m[best])))
            sel.append(int(best))
            mind = np.minimum(mind, ((q - q[best]) ** 2).sum(axis=1))
        got = [
            (r.step, r.center_vec_id, r.radius_q)
            for r in sorted(
                registry.QUERIES["select_kcenter_coreset"](spark, sf_dir).collect(),
                key=lambda r: r.step,
            )
        ]
        assert got == want
        radii = [r[2] for r in got[1:]]
        assert radii == sorted(radii, reverse=True)


class TestNeymanAllocation:
    def test_budget_exhausted_and_per_stratum_counts_match_alloc(self, spark, sf_dir):
        from psvm_spark.queries.llm import _NEY_BUDGET

        rows = registry.QUERIES["sample_neyman_allocation"](spark, sf_dir).collect()
        by_lang: dict[str, list] = {}
        for r in rows:
            by_lang.setdefault(r.lang, []).append(r)
        total = 0
        for lang, rs in by_lang.items():
            alloc = {r.stratum_alloc for r in rs}
            assert len(alloc) == 1, lang
            assert len(rs) == alloc.pop(), lang
            assert sorted(r.rk for r in rs) == list(range(1, len(rs) + 1)), lang
            total += len(rs)
        assert total <= _NEY_BUDGET


class TestIVFPQ:
    def test_matches_numpy_ivfpq_replay(self, spark, sf_dir):
        """Full NumPy replay of the composed index: coarse label-centroid
        assignment, residual PQ codes from the fixed codebook picks,
        per-(probe, cluster) LUTs, and the ADC top-10."""
        import numpy as np

        from psvm_spark.catalog import load_table
        from psvm_spark.queries.llm import _IVFPQ_NPROBE, _IVFPQ_TOPK

        rows = load_table(spark, sf_dir, "embeddings").select(
            "vec_id", "label", "embedding"
        ).collect()
        rows.sort(key=lambda r: r.vec_id)
        ids = np.array([r.vec_id for r in rows])
        labels = np.array([r.label for r in rows])
        X = np.array([[float(x) for x in r.embedding] for r in rows])
        labs = sorted(set(labels.tolist()))
        cent = {
            lab: np.round(X[labels == lab].sum(axis=0), 6) / (labels == lab).sum()
            for lab in labs
        }
        C = np.array([cent[lab] for lab in labs])
        d2 = np.round(((X[:, None, :] - C[None, :, :]) ** 2).sum(axis=2), 6)
        order = np.argsort(d2, axis=1, kind="stable")  # ties -> lowest label idx
        a1 = order[:, 0]
        res = X - C[a1]
        cb = {}
        for vid in range(0, 218, 7):
            k = vid // 7
            s, c = k // 4, k % 4
            cb[(s, c)] = res[np.where(ids == vid)[0][0], s * 8 : s * 8 + 8]
        codes = np.zeros((len(ids), 8), dtype=np.int64)
        for s in range(8):
            dist = np.stack(
                [((res[:, s * 8 : s * 8 + 8] - cb[(s, c)]) ** 2).sum(1) for c in range(4)],
                axis=1,
            )
            codes[:, s] = dist.argmin(axis=1)
        want = {}
        for pi in np.where(ids % 50 == 0)[0]:
            probed = order[pi, :_IVFPQ_NPROBE]
            cand = []
            for cl in probed:
                pres = X[pi] - C[cl]
                lut = {
                    (s, c): np.round(
                        ((pres[s * 8 : s * 8 + 8] - cb[(s, c)]) ** 2).sum(), 9
                    )
                    for s in range(8)
                    for c in range(4)
                }
                for j in np.where(a1 == cl)[0]:
                    if j == pi:
                        continue
                    adc = sum(lut[(s, codes[j, s])] for s in range(8))
                    cand.append((float(adc), int(ids[j])))
            cand.sort()
            want[int(ids[pi])] = [j for _, j in cand[:_IVFPQ_TOPK]]
        got = {}
        for r in registry.QUERIES["sim_ivfpq_topk"](spark, sf_dir).collect():
            got.setdefault(r.i, []).append((r.rnk, r.j))
        got = {i: [j for _, j in sorted(v)] for i, v in got.items()}
        assert got == want


class TestWinnowing:
    def test_guarantee_and_density_and_short_doc_edges(self, spark, sf_dir):
        """Winnowing's two published properties on planted data: (1) two
        docs sharing a verbatim run of >= w + k - 1 chars share at least
        one fingerprint; (2) fingerprint density ~ 2/(w+1); plus the
        short-doc edge cases (len < k and len < k + w - 1)."""
        import hashlib

        from psvm_spark.queries.llm import _WIN_K, _WIN_W

        def winnow(text):
            hs = [
                hashlib.md5(text[i : i + _WIN_K].encode()).hexdigest()[:16]
                for i in range(len(text) - _WIN_K + 1)
            ]
            if len(hs) < _WIN_W:
                return set(), len(hs), 0
            mins = [min(hs[s : s + _WIN_W]) for s in range(len(hs) - _WIN_W + 1)]
            return set(mins), len(hs), len(mins)

        shared = "the quick brown fox jumps over the lazy dog"
        docs = [
            (1, "AAAA " + shared + " BBBB"),
            (2, "cccc " + shared + " dddd"),
            (3, "zz"),  # shorter than k
            (4, "abcdefghij"),  # >= k but < k + w - 1
            (5, "x" * 400),
        ]
        df = spark.createDataFrame(docs, "doc_id long, text string")
        # replicate the registered query's exact Spark expressions on
        # the planted frame (the fixture dirs are read-only)
        from pyspark.sql import functions as F

        hs = df.select(
            "doc_id",
            F.expr(
                f"IF(length(text) < {_WIN_K}, array(),"
                f" transform(sequence(1, length(text) - {_WIN_K} + 1),"
                f" i -> substring(md5(substring(text, i, {_WIN_K})), 1, 16)))"
            ).alias("h"),
        )
        wins = hs.select(
            "doc_id",
            F.size("h").alias("n_grams"),
            F.expr(
                f"IF(size(h) < {_WIN_W}, array(),"
                f" transform(sequence(1, size(h) - {_WIN_W} + 1),"
                f" s -> array_min(slice(h, s, {_WIN_W}))))"
            ).alias("mins"),
        ).collect()
        got = {r.doc_id: (set(r.mins), r.n_grams) for r in wins}
        for doc_id, text in docs:
            fps, n_grams, n_windows = winnow(text)
            assert got[doc_id][0] == fps, doc_id
            assert got[doc_id][1] == n_grams, doc_id
        # guarantee: docs 1 and 2 share the long run -> share a fingerprint
        assert got[1][0] & got[2][0]
        # short docs: empty fingerprint sets
        assert got[3][0] == set() and got[4][0] == set()
        # density on real corpus: ~2/(w+1) of windows produce distinct fps
        rows = registry.QUERIES["doc_winnowing"](spark, sf_dir).collect()
        dens = [r.n_fps / r.n_windows for r in rows if r.n_windows > 50]
        assert dens, "fixture docs unexpectedly tiny"
        avg = sum(dens) / len(dens)
        assert 0.5 * 2 / (_WIN_W + 1) < avg < 2.5 * 2 / (_WIN_W + 1), avg


class TestKnnGraph:
    def test_ranks_contiguous_and_neighbors_mutual_in_candidate_set(self, spark, sf_dir):
        rows = registry.QUERIES["text_knn_graph"](spark, sf_dir).collect()
        assert rows
        by_doc: dict[int, list] = {}
        pairs = set()
        for r in rows:
            assert r.doc_id != r.nbr
            assert 0.0 < r.jaccard <= 1.0
            by_doc.setdefault(r.doc_id, []).append((r.rnk, r.jaccard, r.nbr))
            pairs.add((min(r.doc_id, r.nbr), max(r.doc_id, r.nbr), round(r.jaccard, 12)))
        for doc, lst in by_doc.items():
            lst.sort()
            assert [x[0] for x in lst] == list(range(1, len(lst) + 1)), doc
            jac = [x[1] for x in lst]
            assert jac == sorted(jac, reverse=True), doc
        # symmetric construction: every ranked edge's undirected pair
        # appears with one consistent jaccard value
        assert len(pairs) <= len(rows)


class TestFacilityLocation:
    def test_matches_numpy_greedy_and_gains_non_increasing(self, spark, sf_dir):
        import numpy as np

        from psvm_spark.catalog import load_table
        from psvm_spark.queries.llm import _FL_K, _FL_MOD

        rows = (
            load_table(spark, sf_dir, "embeddings")
            .filter(F.col("vec_id") % _FL_MOD == 0)
            .select("vec_id", "embedding")
            .collect()
        )
        rows.sort(key=lambda r: r.vec_id)
        ids = np.array([r.vec_id for r in rows])
        q = np.floor(
            np.array([[float(x) for x in r.embedding] for r in rows]) * 1000.0 + 0.5
        ).astype(np.int64)
        sims = np.maximum(q @ q.T, 0)
        cov = np.zeros(len(ids), dtype=np.int64)
        sel: list[int] = []
        want = []
        for step in range(1, _FL_K + 1):
            gains = np.maximum(sims - cov[:, None], 0).sum(axis=0)
            gains[sel] = -1
            best = np.lexsort((ids, -gains))[0]
            want.append((step, int(ids[best]), int(gains[best])))
            sel.append(int(best))
            cov = np.maximum(cov, sims[:, best])
        got = sorted(
            (r.step, r.center_vec_id, r.marginal_gain)
            for r in registry.QUERIES["select_facility_location"](spark, sf_dir).collect()
        )
        assert got == want
        gains = [g for _, _, g in got[1:]]
        assert gains == sorted(gains, reverse=True)  # submodularity


class TestDistinctNgrams:
    def test_diversity_invariants(self, spark, sf_dir):
        rows = registry.QUERIES["text_distinct_ngrams"](spark, sf_dir).collect()
        assert rows
        groups = {}
        for r in rows:
            assert r.n in (1, 2, 3)
            assert 0 < r.distinct_grams <= r.total_grams
            assert 0.0 < r.distinct_ratio <= 1.0
            groups.setdefault((r.lang, r.source), {})[r.n] = r
        for (lang, source), by_n in groups.items():
            # all three orders present per slice
            assert set(by_n) == {1, 2, 3}, (lang, source)
            # each doc contributes exactly one fewer bigram than tokens
            # (and one fewer trigram than bigrams) unless it is shorter
            # than n tokens, so totals are strictly decreasing in n
            assert by_n[1].total_grams > by_n[2].total_grams > by_n[3].total_grams


class TestCurriculumOrder:
    def test_global_order_and_shard_deal(self, spark, sf_dir):
        rows = registry.QUERIES["select_curriculum_order"](spark, sf_dir).collect()
        n = len(rows)
        assert n > 0
        # grank is a permutation of 1..n consistent with difficulty order
        assert sorted(r.grank for r in rows) == list(range(1, n + 1))
        by_rank = sorted(rows, key=lambda r: r.grank)
        for a, b in zip(by_rank, by_rank[1:]):
            assert (a.difficulty, a.doc_id) < (b.difficulty, b.doc_id)
        # round-robin deal: shards balanced within 1, step monotone per shard
        from collections import Counter

        c = Counter(r.shard for r in rows)
        assert set(c) == set(range(8))
        assert max(c.values()) - min(c.values()) <= 1
        for r in rows:
            assert r.shard == (r.grank - 1) % 8
            assert r.step == (r.grank - 1) // 8


class TestNaiveBayesLang:
    def test_structural_invariants(self, spark, sf_dir):
        rows = registry.QUERIES["ml_naive_bayes_lang"](spark, sf_dir).collect()
        assert rows
        d = load_table(spark, sf_dir, "documents")
        n_test = d.filter(F.col("doc_id") % 5 == 0).count()
        # exactly one prediction per held-out doc
        assert len(rows) == n_test
        assert len({r.doc_id for r in rows}) == n_test
        langs = {"de", "en", "es", "fr", "zh"}
        for r in rows:
            assert r.pred_lang in langs
            assert r.correct == (r.pred_lang == r.true_lang)
        # the fixture text is language-independent by construction, so a
        # correct NB collapses toward the class prior: the majority
        # class must dominate predictions
        from collections import Counter

        top = Counter(r.pred_lang for r in rows).most_common(1)[0][0]
        assert top == "en"


class TestRhoExcessLoss:
    def test_selection_size_and_ordering(self, spark, sf_dir):
        rows = registry.QUERIES["select_rho_excess_loss"](spark, sf_dir).collect()
        d = load_table(spark, sf_dir, "documents")
        n_docs = d.count()
        # exactly the top 1/5 by excess loss, ranks dense from 1
        assert len(rows) == n_docs // 5
        assert sorted(r.sel_rank for r in rows) == list(range(1, n_docs // 5 + 1))
        # rank order agrees with score order (ties broken by doc_id)
        by_rank = sorted(rows, key=lambda r: r.sel_rank)
        for a, b in zip(by_rank, by_rank[1:]):
            assert (a.excess_mean, -a.doc_id) >= (b.excess_mean, -b.doc_id)

    def test_reference_slice_scores_low(self, spark, sf_dir):
        """Docs from the curated reference sources have LOW excess loss
        (the reference model already fits them), so the selected top
        slice should skew toward non-reference sources."""
        rows = registry.QUERIES["select_rho_excess_loss"](spark, sf_dir).collect()
        n_ref = sum(1 for r in rows if r.source in ("src0", "src1", "src2", "src3"))
        assert n_ref < len(rows) / 2


class TestBpeEncode:
    def test_counts_and_compression(self, spark, sf_dir):
        rows = registry.QUERIES["vocab_bpe_encode"](spark, sf_dir).collect()
        d = load_table(spark, sf_dir, "documents").filter("doc_id % 7 = 0")
        docs = {r.doc_id: r.text for r in d.collect()}
        assert {r.doc_id for r in rows} == set(docs)
        for r in rows:
            words = [w for w in docs[r.doc_id].split(" ") if w]
            assert r.n_words == len(words)
            assert r.n_chars == sum(len(w) for w in words)
            # merges only ever reduce token count; chars are the ceiling
            assert r.n_tokens <= r.n_chars
            assert len(r.token_digest) == 32
        # the corpus is repetitive: the learned merges must compress
        assert sum(r.n_tokens for r in rows) < sum(r.n_chars for r in rows)

    def test_encoding_applies_learned_merges_greedily(self, spark, sf_dir):
        """Independent Python replay: learn merges via _bpe_learn's
        output (parity-proven), re-encode a few docs with a reference
        greedy fold, and compare token counts."""
        from psvm_spark.queries.llm import _bpe_learn

        merges = _bpe_learn(spark, sf_dir)
        rows = {
            r.doc_id: r
            for r in registry.QUERIES["vocab_bpe_encode"](spark, sf_dir).collect()
        }
        d = load_table(spark, sf_dir, "documents").filter("doc_id % 7 = 0")
        for r in d.limit(10).collect():
            total = 0
            for w in r.text.split(" "):
                if not w:
                    continue
                toks = list(w)
                for _, a, b, _c in merges:
                    out = []
                    for t in toks:
                        if out and out[-1] == a and t == b:
                            out[-1] = a + b
                        else:
                            out.append(t)
                    toks = out
                total += len(toks)
            assert rows[r.doc_id].n_tokens == total, r.doc_id


class TestRakeKeywords:
    def test_planted_phrase_dominates(self, spark, tmp_path):
        """Plant a corpus where 'the'/'of' are the (derived) delimiters
        and a repeated multi-word phrase exists: RAKE must rank the
        planted phrase first for the language, with degree-boosted
        multi-word score."""
        from psvm_spark.registry import QUERIES

        block = " ".join(f"d{i}" for i in range(8))  # 8 filler words whose
        # counts dominate -> they become the derived delimiter set
        text = f"{block} {block} {block} quantum flux capacitor {block} widget"
        docs = [(i, text, "en", "web", 100) for i in range(6)]
        df = spark.createDataFrame(
            docs, "doc_id long, text string, lang string, source string, n_chars long"
        )
        sf = str(tmp_path)
        df.write.mode("overwrite").parquet(sf + "/documents.parquet")
        rows = [r for r in QUERIES["text_rake_keywords"](spark, sf).collect()
                if r.lang == "en"]
        top = min(rows, key=lambda r: r.rank)
        assert top.phrase == "quantum flux capacitor"
        assert top.n_occur == 6
        # 3 words, each deg=3 freq=6(docs)... deg counts phrase length per
        # occurrence: each word freq 6, deg 18 -> sc 3e6 each, phrase 9e6
        assert top.score_fp == 9_000_000

    def test_fixture_scores_positive_and_ranked(self, spark, sf_dir):
        from psvm_spark.registry import QUERIES

        rows = QUERIES["text_rake_keywords"](spark, sf_dir).collect()
        assert rows
        per_lang = {}
        for r in rows:
            per_lang.setdefault(r.lang, []).append(r)
        for lang, rs in per_lang.items():
            rs.sort(key=lambda r: r.rank)
            scores = [r.score_fp for r in rs]
            assert scores == sorted(scores, reverse=True)
            assert all(s >= 1_000_000 for s in scores)  # deg >= freq


class TestMutualInformation:
    def test_information_inequalities(self, spark, sf_dir):
        """0 <= MI <= min(H(X), H(Y)) up to the 1e-9 rounding grid."""
        from psvm_spark.registry import QUERIES

        r = QUERIES["agg_mutual_information"](spark, sf_dir).collect()[0]
        eps = 1e-6
        assert r.mi >= -eps
        assert r.mi <= min(r.h_event, r.h_hour) + eps
        assert r.h_event > 0 and r.h_hour > 0
        assert r.n_cells <= r.n_rows


class TestKnnClassify:
    def test_vote_consistency_and_coverage(self, spark, sf_dir):
        from psvm_spark.catalog import load_table
        from psvm_spark.queries.llm import _KNN_K
        from psvm_spark.registry import QUERIES

        rows = QUERIES["ml_knn_classify"](spark, sf_dir).collect()
        probes = {
            r.vec_id
            for r in load_table(spark, sf_dir, "embeddings")
            .filter("vec_id % 100 = 3")
            .select("vec_id")
            .collect()
        }
        assert {r.probe_id for r in rows} == probes
        for r in rows:
            assert 1 <= r.n_votes <= _KNN_K
            assert r.correct == (r.true_label == r.pred_label)


class TestWoeEncode:
    def test_counts_and_woe_signs(self, spark, sf_dir):
        import math

        from psvm_spark.catalog import load_table
        from psvm_spark.registry import QUERIES

        rows = QUERIES["feat_woe_encode"](spark, sf_dir).collect()
        o = load_table(spark, sf_dir, "orders")
        n = o.count()
        assert sum(r.n_pos + r.n_neg for r in rows) == n
        p = sum(r.n_pos for r in rows)
        ng = sum(r.n_neg for r in rows)
        for r in rows:
            want = math.log(((r.n_pos + 1) * ng) / ((r.n_neg + 1) * p))
            assert abs(r.woe - want) < 1e-8, (r.bin, r.woe, want)


class TestUrlCanonicalDedup:
    def test_variants_collapse_and_first_occurrence_survives(self, spark, sf_dir):
        from psvm_spark.catalog import load_table
        from psvm_spark.registry import QUERIES

        df = QUERIES["dedup_url_canonical"](spark, sf_dir)
        rows = df.collect()
        n_docs_total = load_table(spark, sf_dir, "documents").count()
        assert sum(r.n_docs for r in rows) == n_docs_total  # partition of the corpus
        assert len(rows) < n_docs_total  # canonicalization actually collapsed variants
        for r in rows:
            u = r.canonical_url
            assert u.startswith("https://")  # lowercased scheme
            assert "WWW." not in u and ":443" not in u and "#" not in u
            assert "utm_" not in u
            assert not u.split("?")[0].endswith("/")


class TestDoremiWeights:
    def test_weights_normalize_and_upweight_high_excess(self, spark, sf_dir):
        from psvm_spark.registry import QUERIES

        rows = sorted(
            QUERIES["select_doremi_weights"](spark, sf_dir).collect(),
            key=lambda r: r.lang,
        )
        assert len(rows) == 5
        assert abs(sum(r.weight for r in rows) - 1.0) < 1e-6
        # a domain with higher excess loss than another but no more
        # tokens must never get a smaller weight-to-share ratio
        ratios = {r.lang: (r.excess, r.weight / r.n_tok) for r in rows}
        rs = sorted(ratios.values())
        assert all(a[1] <= b[1] * (1 + 1e-9) for a, b in zip(rs, rs[1:]))


class TestWordpieceEncode:
    def test_greedy_longest_match_replay(self, spark, sf_dir):
        import pyspark.sql.functions as F

        from psvm_spark.catalog import load_table
        from psvm_spark.queries.llm import _WP_MAXP, _WP_SUB_MIN, _WP_WORD_MIN
        from psvm_spark.registry import QUERIES

        out = {r.doc_id: r for r in
               QUERIES["vocab_wordpiece_encode"](spark, sf_dir).collect()}
        docs = load_table(spark, sf_dir, "documents").collect()
        assert len(out) == len(docs)
        # independent vocab + greedy replay on a few docs
        from collections import Counter

        wc = Counter(w for d in docs for w in d.text.split(" ") if w)
        v0, vc = set(), set()
        for w, c in wc.items():
            for ch in set(w):
                v0.add(ch); vc.add(ch)
            if c >= _WP_WORD_MIN:
                v0.add(w)
            if c >= _WP_SUB_MIN:
                for L in (2, 3):
                    if len(w) >= L:
                        v0.add(w[:L])
                for i in range(1, len(w)):
                    for L in (1, 2):
                        if i + L <= len(w):
                            vc.add(w[i:i + L])
        for d in docs[:10]:
            n_pieces = 0
            for w in d.text.split(" "):
                if not w:
                    continue
                pos = 0
                while pos < len(w):
                    for L in range(min(_WP_MAXP, len(w) - pos), 0, -1):
                        cand = w[pos:pos + L]
                        if (pos == 0 and cand in v0) or (pos > 0 and cand in vc):
                            pos += L
                            n_pieces += 1
                            break
            assert out[d.doc_id].n_pieces == n_pieces, d.doc_id


class TestZipfFit:
    def test_slope_negative_and_replayable(self, spark, sf_dir):
        import math
        from collections import Counter

        from psvm_spark.catalog import load_table
        from psvm_spark.registry import QUERIES

        r = QUERIES["text_zipf_fit"](spark, sf_dir).collect()[0]
        docs = load_table(spark, sf_dir, "documents").collect()
        wc = Counter(w for d in docs for w in d.text.split(" ") if w)
        assert r.n_vocab == len(wc)
        assert r.zipf_slope < 0  # frequency falls with rank
        # OLS replay on round9 decimal terms
        from decimal import Decimal

        ranked = sorted(wc.items(), key=lambda kv: (-kv[1], kv[0]))
        sx = sy = sxy = sxx = Decimal(0)
        for i, (_, c) in enumerate(ranked, start=1):
            lx = Decimal(str(round(math.log(i), 9)))
            ly = Decimal(str(round(math.log(c), 9)))
            sx += lx; sy += ly; sxy += lx * ly; sxx += lx * lx
        n = float(len(ranked))
        slope = (n * float(sxy) - float(sx) * float(sy)) / (
            n * float(sxx) - float(sx) * float(sx))
        assert abs(r.zipf_slope - round(slope, 9)) < 2e-9


class TestReadability:
    def test_flesch_replay_per_lang(self, spark, sf_dir):
        from collections import defaultdict
        from decimal import Decimal

        from psvm_spark.catalog import load_table
        from psvm_spark.registry import QUERIES

        import re

        out = {r.lang: r for r in QUERIES["text_readability"](spark, sf_dir).collect()}
        docs = load_table(spark, sf_dir, "documents").collect()
        agg = defaultdict(lambda: [0, Decimal(0)])
        for d in docs:
            words = [w for w in d.text.split(" ") if w]
            syl = sum(max(len(re.findall(r"[aeiou]+", w)), 1) for w in words)
            sent = (len(words) + 11) // 12
            fre = round(206.835 - 1.015 * (len(words) / sent)
                        - 84.6 * (syl / len(words)), 9)
            agg[d.lang][0] += 1
            agg[d.lang][1] += Decimal(str(fre))
        for lang, (n, s) in agg.items():
            assert out[lang].n_docs == n
            assert abs(out[lang].mean_flesch - round(float(s) / n, 6)) < 2e-6


class TestTextrankKeywords:
    def test_topk_shape_and_rank_mass_sanity(self, spark, sf_dir):
        from psvm_spark.registry import QUERIES

        rows = QUERIES["text_textrank_keywords"](spark, sf_dir).collect()
        by_lang = {}
        for r in rows:
            by_lang.setdefault(r.lang, []).append(r)
        for lang, rs in by_lang.items():
            rs.sort(key=lambda r: r.rk)
            assert [r.rk for r in rs] == list(range(1, len(rs) + 1))
            assert len(rs) <= 10
            scores = [r.score for r in rs]
            assert all(a >= b for a, b in zip(scores, scores[1:]))
            assert all(s > 0 for s in scores)


class TestRound9LlmKeys:
    def test_spearman_rho_bounds_and_tie_correctness(self, spark, sf_dir):
        from psvm_spark.registry import QUERIES, load_all

        load_all()
        row = QUERIES["ml_spearman_rho"](spark, sf_dir).collect()[0]
        assert -1.0 <= row.rho_spearman <= 1.0
        # tie-correct average ranks: 2*avg-rank over n values sums to
        # n*(n+1) exactly; verify via the helper on a tied column
        from pyspark.sql import functions as F

        from psvm_spark.queries.llm import _avg_rank2

        df = spark.createDataFrame(
            [(v,) for v in [10, 10, 20, 20, 20, 30]], "v long"
        )
        r2 = _avg_rank2(df, "v", 16)
        joined = df.join(r2, "v")
        total = joined.agg(F.sum("r2")).collect()[0][0]
        n = 6
        assert total == n * (n + 1)  # sum of 2*ranks == 2 * n(n+1)/2
        vals = {r.v: r.r2 for r in r2.collect()}
        assert vals[10] == 3  # avg rank 1.5 -> 3
        assert vals[20] == 8  # avg rank 4 -> 8
        assert vals[30] == 12  # avg rank 6 -> 12

    def test_bloom_prefilter_count_identities(self, spark, sf_dir):
        from psvm_spark.registry import QUERIES, load_all

        load_all()
        row = QUERIES["dedup_bloom_prefilter"](spark, sf_dir).collect()[0]
        assert row.n_batch == row.n_bloom_pass + row.n_definite_new
        assert row.n_bloom_pass == row.n_true_dup + row.n_false_pos
        # NO false negatives by Bloom construction: every true corpus
        # duplicate must pass the filter (its k positions are all set)
        assert row.n_true_dup >= 0 and row.n_false_pos >= 0

    def test_kneser_ney_probabilities_sum_to_one(self, spark, sf_dir):
        """For any trained context w1, sum_w2 Pkn(w2|w1) over all known
        continuations w2 must be 1 (interpolated KN is a proper
        conditional distribution)."""
        from pyspark.sql import functions as F

        from psvm_spark.catalog import load_table
        from psvm_spark.queries.llm import _KN_D

        d = load_table(spark, sf_dir, "documents").select(
            "doc_id", F.split("text", " ").alias("t")
        )
        pairs = d.select(
            "doc_id",
            F.explode(
                F.expr(
                    "transform(sequence(0, size(t) - 2),"
                    " i -> struct(t[i] AS w1, t[i+1] AS w2))"
                )
            ).alias("bg"),
        ).select("doc_id", "bg.w1", "bg.w2")
        trn = pairs.filter(F.col("doc_id") % 5 != 0).select("w1", "w2")
        c2 = trn.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c12"))
        c1 = c2.groupBy("w1").agg(
            F.sum("c12").alias("c1"), F.count(F.lit(1)).alias("n1f")
        )
        bw = c2.groupBy("w2").agg(F.count(F.lit(1)).alias("n1b"))
        nt = c2.count()
        # pick the most frequent context
        w1 = c1.orderBy(F.desc("c1")).limit(1).collect()[0].w1
        rows = (
            c1.filter(F.col("w1") == w1)
            .crossJoin(bw.withColumnRenamed("w2", "cw2"))
            .join(
                c2.filter(F.col("w1") == w1).select(
                    F.col("w2").alias("cw2"), "c12"
                ),
                "cw2",
                "left",
            )
            .collect()
        )
        total = sum(
            max((r.c12 or 0) - _KN_D, 0.0) / r.c1
            + (_KN_D * r.n1f / r.c1) * (r.n1b / nt)
            for r in rows
        )
        assert abs(total - 1.0) < 1e-9

    def test_agreement_stats_identities(self, spark, sf_dir):
        from psvm_spark.registry import QUERIES, load_all

        load_all()
        row = QUERIES["ml_agreement_stats"](spark, sf_dir).collect()[0]
        assert row.n_docs == row.tp + row.fp + row.fn + row.tn
        assert -1.0 <= row.kappa <= 1.0 and -1.0 <= row.mcc <= 1.0


class TestRobustScaler:
    def test_scaled_median_is_zero_per_source(self, spark, sf_dir):
        """Median of the scaled feature must be ~0 within every source
        (the defining property of median/IQR scaling)."""
        from pyspark.sql import functions as F

        from psvm_spark.registry import QUERIES, load_all

        load_all()
        df = QUERIES["feat_robust_scaler"](spark, sf_dir)
        med = df.groupBy("source").agg(
            F.expr("percentile(scaled, 0.5)").alias("m")
        )
        for r in med.collect():
            assert abs(r.m) < 1e-9, r


class TestBurstiness:
    def test_vmr_matches_python_with_zero_docs(self, spark, sf_dir):
        """The VMR must include zero-count documents (only N enters,
        never a dense zero-filled table): recompute one term in python."""
        import collections

        from psvm_spark.catalog import load_table
        from psvm_spark.registry import QUERIES, load_all

        load_all()
        rows = QUERIES["text_burstiness"](spark, sf_dir).collect()
        assert len(rows) == 20
        top = max(rows, key=lambda r: r.total)
        docs = load_table(spark, sf_dir, "documents").select("doc_id", "text").collect()
        n = len(docs)
        counts = [collections.Counter(d.text.split(" "))[top.w] for d in docs]
        mean = sum(counts) / n
        var = sum(c * c for c in counts) / n - mean * mean
        assert abs(top.vmr - var / mean) < 1e-6
        assert top.df == sum(1 for c in counts if c)


class TestLofOutlier:
    def test_matches_sklearn_free_reference(self, spark, sf_dir):
        """Recompute LOF in pure python/numpy over the same ground set
        and k; the engine's top-20 must match scores to 1e-6."""
        import numpy as np

        from psvm_spark.catalog import load_table
        from psvm_spark.queries.llm import _LOF_K
        from psvm_spark.registry import QUERIES, load_all

        load_all()
        rows = QUERIES["ml_lof_outlier"](spark, sf_dir).collect()
        e = (
            load_table(spark, sf_dir, "embeddings")
            .filter("vec_id % 10 = 0")
            .select("vec_id", "embedding")
            .collect()
        )
        ids = [r.vec_id for r in e]
        X = np.array([r.embedding for r in e], dtype=np.float64)
        n = len(ids)
        d2 = ((X[:, None, :] - X[None, :, :]) ** 2).sum(axis=2)
        knn, kdist = {}, {}
        for a in range(n):
            order = sorted((d2[a][b], ids[b], b) for b in range(n) if b != a)
            knn[a] = [t[2] for t in order[:_LOF_K]]
            kdist[a] = order[_LOF_K - 1][0]
        lrd = {}
        for a in range(n):
            s = sum(max(kdist[b], d2[a][b]) for b in knn[a])
            lrd[a] = _LOF_K / s
        lof = {
            ids[a]: sum(lrd[b] for b in knn[a]) / (_LOF_K * lrd[a])
            for a in range(n)
        }
        for r in rows:
            assert abs(lof[r.vec_id] - r.lof) < 1e-6, r
        # top-20 set check
        want = sorted(lof.items(), key=lambda kv: (-kv[1], kv[0]))[: len(rows)]
        assert [w[0] for w in want] == [r.vec_id for r in rows]


class TestExactK:
    def test_exactly_k_and_deterministic(self, spark, sf_dir):
        from psvm_spark.queries.llm import _EXK_K
        from psvm_spark.registry import QUERIES, load_all

        load_all()
        a = QUERIES["sample_exact_k"](spark, sf_dir).collect()
        b = QUERIES["sample_exact_k"](spark, sf_dir).collect()
        assert len(a) == _EXK_K
        assert sorted(map(tuple, a)) == sorted(map(tuple, b))
        assert len({r.doc_id for r in a}) == _EXK_K  # without replacement


class TestBrierDecomposition:
    def test_identity_and_bounds(self, spark, sf_dir):
        """Murphy identity holds for the BINNED forecast: the binned
        Brier equals REL - RES + UNC; the raw Brier exceeds it by the
        within-bin variance of p (both recomputed in python)."""
        from psvm_spark.registry import QUERIES, load_all

        load_all()
        row = QUERIES["ml_brier_decomposition"](spark, sf_dir).collect()[0]
        assert 0.0 <= row.brier <= 1.0
        assert row.reliability >= 0 and row.resolution >= 0
        assert 0.0 <= row.uncertainty <= 0.25 + 1e-12
        # binned-forecast identity: REL - RES + UNC >= 0 and within [0,1]
        binned = row.reliability - row.resolution + row.uncertainty
        assert 0.0 <= binned <= 1.0
        # raw brier = binned brier + within-bin variance of p, so the
        # raw score can sit on either side only by that non-negative
        # variance term; sanity-bound the gap
        assert abs(row.brier - binned) < 0.25


class TestSq8TopK:
    def test_rescored_topk_close_to_exact_float_topk(self, spark, sf_dir):
        """SQ8 candidates rescored with exact cosine must recover most
        of the exact float top-10 (recall@10 >= 0.8 on the fixture) —
        and every reported cosine must equal the exact float cosine for
        that pair."""
        from psvm_spark.registry import QUERIES, load_all

        load_all()
        sq = QUERIES["sim_sq8_topk"](spark, sf_dir).collect()
        exact = QUERIES["sim_topk_cosine"](spark, sf_dir).collect()
        sq_pairs = {(r.i, r.j) for r in sq}
        ex_pairs = {(r.i, r.j) for r in exact}
        recall = len(sq_pairs & ex_pairs) / len(ex_pairs)
        assert recall >= 0.8, recall
        ex_cos = {(r.i, r.j): r.cosine for r in exact}
        for r in sq:
            if (r.i, r.j) in ex_cos:
                assert abs(r.cosine - ex_cos[(r.i, r.j)]) < 1e-12


class TestMinhashRecall:
    def test_counts_consistent_and_recall_bounded(self, spark, sf_dir):
        from psvm_spark.registry import QUERIES, load_all

        load_all()
        r = QUERIES["dedup_minhash_recall"](spark, sf_dir).collect()[0]
        assert r.n_truth > 0  # the fixture plants near-dup clusters
        assert 0 <= r.n_hit <= min(r.n_truth, r.n_lsh_pairs)
        assert abs(r.recall - r.n_hit / r.n_truth) < 1e-9


class TestQualityComposite:
    def test_composite_matches_python_replay(self, spark, sf_dir):
        """Replay the z-composite in python from the same integer
        milli-signals; the kept set and scores must match, and the keep
        rate must be a nontrivial strict subset."""
        import collections

        from pyspark.sql import functions as F

        from psvm_spark.catalog import load_table
        from psvm_spark.queries.llm import _TQC_TOP_STOP
        from psvm_spark.registry import QUERIES, load_all

        load_all()
        got = {
            r.doc_id: r.composite
            for r in QUERIES["text_quality_composite"](spark, sf_dir).collect()
        }
        docs = load_table(spark, sf_dir, "documents").select("doc_id", "text").collect()
        wc = collections.Counter()
        for r in docs:
            wc.update(r.text.split(" "))
        stop = {
            w for w, _ in sorted(wc.items(), key=lambda kv: (-kv[1], kv[0]))[:_TQC_TOP_STOP]
        }
        sig = {}
        for r in docs:
            ws = r.text.split(" ")
            n = len(ws)
            sig[r.doc_id] = (
                sum(len(w) for w in ws) * 1000 // n,
                len(set(ws)) * 1000 // n,
                sum(1 for w in ws if w in stop) * 1000 // n,
            )
        nn = len(sig)
        import math

        def ms(i):
            vals = [s[i] for s in sig.values()]
            m = sum(vals) / nn
            return m, math.sqrt(sum(v * v for v in vals) / nn - m * m)

        (mm, sm), (md, sd), (msr, ss) = ms(0), ms(1), ms(2)
        want = {}
        for did, (mwl, dr, sr) in sig.items():
            comp = (dr - md) / sd + (mwl - mm) / sm - (sr - msr) / ss
            if comp > 1.0:
                want[did] = round(comp, 9)
        assert set(got) == set(want)
        for did in got:
            assert abs(got[did] - want[did]) < 1e-6
        assert 0 < len(got) < nn


class TestDelongCI:
    def test_auc_matches_roc_and_variance_replays(self, spark, sf_dir):
        """The point estimate must equal ml_roc_auc's AUC exactly, and
        the DeLong variance must match a direct python replay over the
        raw scored panel (placement values per row)."""
        from psvm_spark.ml.svm import score, sv_test
        from psvm_spark.registry import QUERIES, load_all

        load_all()
        row = QUERIES["ml_auc_delong_ci"](spark, sf_dir).collect()[0]
        auc_ref = QUERIES["ml_roc_auc"](spark, sf_dir).collect()[0].auc
        assert abs(row.auc - auc_ref) < 1e-9
        sv, test = sv_test(spark, sf_dir)
        scored = score(test, sv).collect()
        pos = sorted(r.score for r in scored if r.label < 5)
        neg = sorted(r.score for r in scored if r.label >= 5)
        import bisect

        m, n = len(pos), len(neg)
        v10 = [
            (bisect.bisect_left(neg, s)
             + 0.5 * (bisect.bisect_right(neg, s) - bisect.bisect_left(neg, s)))
            / n
            for s in pos
        ]
        v01 = [
            ((m - bisect.bisect_right(pos, s))
             + 0.5 * (bisect.bisect_right(pos, s) - bisect.bisect_left(pos, s)))
            / m
            for s in neg
        ]
        auc = sum(v10) / m
        s10 = sum((v - auc) ** 2 for v in v10) / (m - 1)
        s01 = sum((v - auc) ** 2 for v in v01) / (n - 1)
        se = (s10 / m + s01 / n) ** 0.5
        assert (row.n_pos, row.n_neg) == (m, n)
        assert abs(row.auc - auc) < 1e-9
        assert abs(row.se - se) < 1e-9
        assert abs(row.ci_lo - (auc - 1.96 * se)) < 1e-8
        assert abs(row.ci_hi - (auc + 1.96 * se)) < 1e-8
        assert row.ci_lo < row.auc < row.ci_hi


class TestPreferencePairs:
    def test_pairs_match_python_replay(self, spark, sf_dir):
        import collections
        import re

        from psvm_spark.catalog import load_table
        from psvm_spark.queries.llm import _PREF_PAIRS_K
        from psvm_spark.registry import QUERIES, load_all

        load_all()
        got = {
            (r.lang, r.pair_rank): (r.chosen_id, r.rejected_id, r.margin_milli)
            for r in QUERIES["select_preference_pairs"](spark, sf_dir).collect()
        }
        docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang", "text").collect()
        by_lang = collections.defaultdict(list)
        for r in docs:
            score = 1000 * len(re.sub(r"[^a-zA-Z]", "", r.text)) // max(len(r.text), 1)
            by_lang[r.lang].append((score, r.doc_id))
        want = {}
        for lang, rows in by_lang.items():
            best = sorted(rows, key=lambda t: (-t[0], t[1]))
            worst = sorted(rows, key=lambda t: (t[0], -t[1]))
            for i in range(min(_PREF_PAIRS_K, len(rows))):
                if best[i][0] > worst[i][0]:
                    want[(lang, i + 1)] = (
                        best[i][1],
                        worst[i][1],
                        best[i][0] - worst[i][0],
                    )
        assert got == want and len(got) > 0
        # a pair never prefers a doc over itself
        for chosen, rejected, margin in got.values():
            assert chosen != rejected and margin > 0


class TestFairnessGaps:
    def test_gaps_recompute_and_pool(self, spark, sf_dir):
        from psvm_spark.registry import QUERIES, load_all

        load_all()
        rows = QUERIES["ml_fairness_gaps"](spark, sf_dir).collect()
        assert sorted(r.grp for r in rows) == [0, 1, 2]
        # pooled rates implied by the gaps must agree across groups
        pooled_tpr = {round(r.tpr - r.tpr_gap, 6) for r in rows}
        pooled_fpr = {round(r.fpr - r.fpr_gap, 6) for r in rows}
        assert len(pooled_tpr) == 1 and len(pooled_fpr) == 1
        for r in rows:
            assert 0.0 <= r.tpr <= 1.0 and 0.0 <= r.fpr <= 1.0
            assert 0.0 <= r.pos_rate <= 1.0


class TestPaddingWaste:
    def test_bucketing_beats_arrival_and_replays(self, spark, sf_dir):
        import collections

        from psvm_spark.catalog import load_table
        from psvm_spark.queries.llm import _PAD_BATCH, _PAD_SHARDS
        from psvm_spark.registry import QUERIES, load_all

        load_all()
        row = QUERIES["pack_padding_waste"](spark, sf_dir).collect()[0]
        docs = load_table(spark, sf_dir, "documents").select("doc_id", "text").collect()
        shards = collections.defaultdict(list)
        for r in docs:
            shards[r.doc_id % _PAD_SHARDS].append((r.doc_id, len(r.text.split(" "))))

        def pad(key):
            total = 0
            for rows in shards.values():
                seq = [n for _, n in sorted(rows, key=key)]
                for i in range(0, len(seq), _PAD_BATCH):
                    batch = seq[i : i + _PAD_BATCH]
                    total += max(batch) * len(batch) - sum(batch)
            return total

        assert row.real_tokens == sum(n for rows in shards.values() for _, n in rows)
        assert row.pad_arrival == pad(lambda t: t[0])
        assert row.pad_bucketed == pad(lambda t: (t[1], t[0]))
        # the whole point: length bucketing pays less padding
        assert row.pad_bucketed < row.pad_arrival


class TestUnigramViterbi:
    def test_dp_is_optimal_vs_brute_force(self, spark, sf_dir):
        """The packed-key DP must find the true lexicographic-minimum
        (cost, n_tokens) over ALL segmentations — recomputed here by
        exhaustive composition enumeration (words <= 12 chars, so
        <= 2^11 compositions), with the cost table rebuilt
        independently from the same panel definition."""
        import itertools
        import math

        from pyspark.sql import functions as F

        from psvm_spark.catalog import load_table
        from psvm_spark.queries.llm import _UNI_MAXL, _UNI_MAXW, _UNI_PANEL
        from psvm_spark.registry import QUERIES

        rows = {
            r.word: r
            for r in QUERIES["vocab_unigram_viterbi"](spark, sf_dir).collect()
        }
        d = load_table(spark, sf_dir, "documents")
        wf = (
            d.select(F.explode(F.split("text", " ")).alias("w"))
            .filter(F.length("w").between(1, _UNI_MAXW))
            .groupBy("w")
            .agg(F.count(F.lit(1)).alias("f"))
        )
        panel = [
            (r.w, int(r.f))
            for r in wf.orderBy(F.desc("f"), F.asc("w"))
            .limit(_UNI_PANEL)
            .collect()
        ]
        assert set(rows) == {w for w, _ in panel}
        cand: dict[str, int] = {}
        for w, f in panel:
            for i in range(len(w)):
                for ln in range(1, _UNI_MAXL + 1):
                    if i + ln <= len(w):
                        cand[w[i : i + ln]] = cand.get(w[i : i + ln], 0) + f
        t, nc = sum(cand.values()), len(cand)
        cost = {
            s: int(math.floor(1000.0 * math.log((float(t) + nc) / (v + 1.0)) + 0.5))
            for s, v in cand.items()
        }

        def all_segs(w):
            n = len(w)
            for cuts in itertools.product([0, 1], repeat=n - 1):
                parts, start = [], 0
                for i, c in enumerate(cuts, 1):
                    if c:
                        parts.append(w[start:i])
                        start = i
                parts.append(w[start:])
                if all(len(p) <= _UNI_MAXL and p in cost for p in parts):
                    yield parts

        for w, _ in panel:
            best = min(
                (sum(cost[p] for p in parts), len(parts))
                for parts in all_segs(w)
            )
            assert (rows[w].min_cost, rows[w].n_tokens) == best, w


class TestDpHistogram:
    def test_noise_is_the_seeded_laplace_transform(self, spark, sf_dir):
        """Every released value must equal the inverse-CDF Laplace
        transform of the month's md5 seed, recomputed independently;
        the noise must actually dither both directions."""
        import hashlib
        import math

        from psvm_spark.queries.llm import _DP_EPS_MILLI
        from psvm_spark.registry import QUERIES

        rows = QUERIES["scrub_dp_histogram"](spark, sf_dir).collect()
        assert len(rows) > 10
        b = 1000.0 / _DP_EPS_MILLI  # sensitivity/epsilon
        for r in rows:
            h = int(hashlib.md5(f"dp:{r.mo}".encode()).hexdigest()[:8], 16)
            u = (float(h) + 0.5) / 4294967296.0
            lap = -b * math.copysign(1.0, u - 0.5) * math.log(
                1.0 - 2.0 * abs(u - 0.5)
            )
            assert r.noisy_milli == math.floor((r.n_true + lap) * 1000 + 0.5)
            assert r.abs_err_milli == abs(r.noisy_milli - r.n_true * 1000)
        errs = [r.noisy_milli - r.n_true * 1000 for r in rows]
        assert any(e > 0 for e in errs) and any(e < 0 for e in errs)


class TestBleuCorpus:
    def test_recomputes_from_raw_pairs(self, spark, sf_dir):
        """Corpus BLEU-2 recomputed independently with Counter clipping
        over the same deterministic pairing must match every column."""
        import math
        from collections import Counter

        from pyspark.sql import functions as F

        from psvm_spark.catalog import load_table
        from psvm_spark.registry import QUERIES

        row = QUERIES["eval_bleu_corpus"](spark, sf_dir).collect()[0]
        docs = sorted(
            (r.source, r.doc_id, [t for t in r.text.split(" ") if t])
            for r in load_table(spark, sf_dir, "documents")
            .select("source", "doc_id", "text")
            .collect()
        )
        pairs = [
            (tk, docs[i + 1][2])
            for i, (src, _, tk) in enumerate(docs[:-1])
            if docs[i + 1][0] == src
        ]
        assert row.n_pairs == len(pairs) > 0

        def grams(tk, n):
            return Counter(
                " ".join(tk[i : i + n]) for i in range(len(tk) - n + 1)
            )

        m1 = sum(
            sum((grams(h, 1) & grams(r, 1)).values()) for h, r in pairs
        )
        m2 = sum(
            sum((grams(h, 2) & grams(r, 2)).values()) for h, r in pairs
        )
        hyp = sum(len(h) for h, _ in pairs)
        ref = sum(len(r) for _, r in pairs)
        t2 = sum(max(len(h) - 1, 0) for h, _ in pairs)
        assert (row.match1, row.total1) == (m1, hyp)
        assert (row.match2, row.total2) == (m2, t2)
        assert (row.hyp_tokens, row.ref_tokens) == (hyp, ref)
        bp = min(1.0, math.exp(1.0 - float(ref) / hyp))
        bleu = bp * math.sqrt((float(m1) / hyp) * (float(m2) / t2))
        assert row.bleu2_fp == math.floor(bleu * 1000000 + 0.5)
        assert 0 < row.bleu2_fp < 1_000_000  # near-refs, not identical


class TestPackChatTurns:
    def test_packing_invariants_and_independent_replay(self, spark, sf_dir):
        """Every pack fits the budget; the per-shard next-fit is
        replayed independently from the conversation table; oversize
        conversations are dropped, not split."""
        from pyspark.sql import functions as F

        from psvm_spark.catalog import load_table
        from psvm_spark.queries.llm import _CHAT_BUDGET, _CHAT_SHARDS
        from psvm_spark.registry import QUERIES

        rows = QUERIES["pack_chat_turns"](spark, sf_dir).collect()
        assert rows
        for r in rows:
            assert 0 < r.total_tokens <= _CHAT_BUDGET
            assert r.pad_tokens == _CHAT_BUDGET - r.total_tokens
            assert 0 <= r.loss_tokens <= r.total_tokens

        ev = load_table(spark, sf_dir, "events").select(
            F.pmod("user_id", F.lit(_CHAT_SHARDS)).alias("shard"),
            "user_id",
            F.date_trunc("week", "ts").cast("date").cast("string").alias("wk"),
            (
                F.lit(1)
                + F.pmod(
                    F.expr(
                        "cast(conv(substring(md5(concat('tok:',"
                        " cast(event_id as string))), 1, 8), 16, 10)"
                        " as bigint)"
                    ),
                    F.lit(64),
                )
            ).alias("nt"),
        )
        conv = (
            ev.groupBy("shard", "user_id", "wk")
            .agg(F.sum("nt").alias("ct"))
            .collect()
        )
        per_shard: dict[int, list] = {}
        dropped = 0
        for c in sorted(conv, key=lambda c: (c.shard, c.user_id, c.wk)):
            if c.ct > _CHAT_BUDGET:
                dropped += 1
                continue
            per_shard.setdefault(c.shard, []).append(int(c.ct))
        want = {}
        for shard, cts in per_shard.items():
            fill, pid, agg = 0, 0, {}
            for ct in cts:
                if pid == 0 or fill + ct > _CHAT_BUDGET:
                    pid += 1
                    fill = ct
                else:
                    fill += ct
                n, tot = agg.get(pid, (0, 0))
                agg[pid] = (n + 1, tot + ct)
            for pid, (n, tot) in agg.items():
                want[(shard, pid)] = (n, tot)
        got = {
            (r.shard, r.pack_id): (r.n_convs, r.total_tokens) for r in rows
        }
        assert got == want
        assert len(conv) == sum(len(v) for v in per_shard.values()) + dropped


class TestRougeL:
    def test_lcs_matches_classic_dp(self, spark, sf_dir):
        """The running-max row formulation must equal the classic
        O(nm) LCS table on every pair, recomputed in pure Python, and
        the corpus aggregates must assemble from those lengths."""
        import math

        from pyspark.sql import functions as F

        from psvm_spark.catalog import load_table
        from psvm_spark.registry import QUERIES

        row = QUERIES["eval_rouge_l"](spark, sf_dir).collect()[0]
        docs = sorted(
            (r.source, r.doc_id, [t for t in r.text.split(" ") if t])
            for r in load_table(spark, sf_dir, "documents")
            .select("source", "doc_id", "text")
            .collect()
        )
        pairs = [
            (tk, docs[i + 1][2])
            for i, (src, _, tk) in enumerate(docs[:-1])
            if docs[i + 1][0] == src
        ]

        def lcs(a, b):
            dp = [[0] * (len(b) + 1) for _ in range(len(a) + 1)]
            for i, x in enumerate(a, 1):
                for j, y in enumerate(b, 1):
                    dp[i][j] = (
                        dp[i - 1][j - 1] + 1
                        if x == y
                        else max(dp[i - 1][j], dp[i][j - 1])
                    )
            return dp[-1][-1]

        s_lcs = sum(lcs(a, b) for a, b in pairs)
        hyp = sum(len(a) for a, _ in pairs)
        ref = sum(len(b) for _, b in pairs)
        assert (row.n_pairs, row.sum_lcs) == (len(pairs), s_lcs)
        assert (row.hyp_tokens, row.ref_tokens) == (hyp, ref)
        p, r = s_lcs / hyp, s_lcs / ref
        assert row.rouge_l_f_fp == math.floor(
            2.0 * p * r / (p + r) * 1000000 + 0.5
        )
        assert 0 < row.rouge_l_f_fp < 1_000_000
