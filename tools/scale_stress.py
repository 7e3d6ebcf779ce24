"""Generate SCALING.md: measured wall time of the pipeline operators
at 1x / 2x / 4x corpus size (sf0.1 documents replicated with
near-duplicate perturbation — the realistic dup-heavy shape), so the
"near-linear at scale" claims are backed by a measured curve instead
of prose.

Run on an otherwise idle machine:  python tools/scale_stress.py
"""

from __future__ import annotations

import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> None:
    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    spark = (
        SparkSession.builder.master("local[32]")
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "16g")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    from deepdb_public_spark.operators.dedup import (
        build_minhash_index,
        dedup_against_index,
        duplicate_clusters,
        minhash_lsh_pairs,
    )
    from deepdb_public_spark.operators.lifecycle import release
    from deepdb_public_spark.operators.chunking import chunk_documents
    from deepdb_public_spark.operators.curation import curate_corpus
    from deepdb_public_spark.operators.dedup import semantic_dedup
    from deepdb_public_spark.operators.filters import (
        bigram_logprob,
        quality_classifier,
        repetition_stats,
    )
    from deepdb_public_spark.operators.sampling import (
        curriculum_order,
        dsir_select,
        hash_split,
        materialize_mixture,
        mixture_plan,
    )
    from deepdb_public_spark.operators.similarity import (
        IvfPqIndex,
        cluster_balanced_sample,
        hybrid_rrf_topk,
        ivfpq_topk,
        kmeans_refine,
        pq_topk,
        prototype_select,
    )
    from deepdb_public_spark.operators.textstats import (
        bpe_learn,
        bpe_pair_counts,
        doc_profile,
        ngram_contamination,
        remove_repeated_spans,
        repeated_span_coverage,
        source_overlap,
        tfidf_top_terms,
    )

    base = spark.read.parquet("/root/testdata/sf0.1/documents.parquet")
    n_base = base.count()

    def corpus(k: int):
        """k near-duplicate replicas (suffix-perturbed, shifted ids)."""
        parts = [base]
        for r in range(1, k):
            parts.append(
                base.select(
                    (F.col("doc_id") + r * 1_000_000).alias("doc_id"),
                    F.concat(
                        F.col("text"), F.lit(f" replica{r} tail "),
                        F.col("doc_id").cast("string"),
                    ).alias("text"),
                    "lang", "source", "n_chars",
                )
            )
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    OPS = {
        "doc_profile (pure projection)": lambda d: doc_profile(
            d, "text", "doc_id"
        ).count(),
        "repetition_stats (explode+agg)": lambda d: repetition_stats(
            d, "text", "doc_id"
        ).count(),
        "minhash_lsh_pairs (LSH dedup)": lambda d: minhash_lsh_pairs(
            d, "text", "doc_id", threshold=0.8, n_hashes=64, n_bands=16,
            use_char_ngrams=True, ngram=5,
        ).count(),
        "dedup_against_index (80/20)": lambda d: _index_dedup(d),
        "chunk_documents (narrow explode)": lambda d: chunk_documents(
            d, "text", "doc_id", size=400, stride=300
        ).count(),
        "tfidf_top_terms (2 shuffles + window)": lambda d: tfidf_top_terms(
            d, "text", "doc_id", k=3
        ).count(),
        "ngram_contamination (gram join)": lambda d: ngram_contamination(
            hash_split(d, "doc_id", {"train": 0.9, "test": 0.1}),
            "text", "doc_id", "split", n=8,
        ).count(),
        "bpe_pair_counts (vocab collapse)": lambda d: bpe_pair_counts(
            d, "text", top_k=25
        ).count(),
        "repeated_span_coverage (k-gram hist)": lambda d:
            repeated_span_coverage(d, "text", "doc_id", k=20).count(),
        "bpe_learn x3 (iterative merges)": lambda d: bpe_learn(
            d, "text", n_merges=3
        )[1].count(),
        "dsir_select (collapsed token join + top-k)": lambda d: dsir_select(
            d, "text", "doc_id", F.col("lang") == "en", top_k=100
        ).count(),
        "bigram_logprob (zip + collapsed model join)": lambda d:
            bigram_logprob(d, "text", "doc_id").count(),
        "curate_corpus (3-stage pipeline)": lambda d: curate_corpus(
            d, "text", "doc_id", "lang", per_stratum=200,
            quality=F.length("text") > 40,
        ).count(),
        "mixture_plan (2 aggregates)": lambda d: mixture_plan(
            d, "text", "source", {"src0": 2.0}, 1_000_000
        ).count(),
        "remove_repeated_spans (gram hist + rewrite)": lambda d:
            remove_repeated_spans(d, "text", "doc_id", n=5).count(),
        "source_overlap (distinct gram pair join)": lambda d:
            source_overlap(d, "text", "doc_id", "source", n=5).count(),
        "quality_classifier (pure projection)": lambda d:
            quality_classifier(d, "text", "doc_id").count(),
        "curriculum_order (percentile broadcast)": lambda d:
            curriculum_order(d, "text", "doc_id", phases=4).count(),
        "materialize_mixture (broadcast plan + explode)": lambda d:
            materialize_mixture(
                d, "doc_id", "source",
                mixture_plan(
                    d, "text", "source", {"src0": 3.0, "src1": 1.5},
                    1_000_000, default_weight=0.05,
                ),
            ).count(),
    }

    # skew-sensitive operators get an extra 8x point (round-12 brief:
    # observe the salt/two-phase behavior on one more doubling and
    # ASSERT the slope) — these are the ops whose scale story depends
    # on hot-key defenses, not just linear scan growth
    SKEW_OPS = [
        "dsir_select (collapsed token join + top-k)",
        "bigram_logprob (zip + collapsed model join)",
        "curate_corpus (3-stage pipeline)",
        "cluster_balanced_sample (two-phase quota)",
        "remove_repeated_spans (gram hist + rewrite)",
        # round-14 (VERDICT item 5): the two super-linear r13 rows get
        # their 8x point — the replication shape is dup-heavy, so the
        # suspect is band-bucket mass growing k-fold per replica
        "dedup_against_index (80/20)",
        "semantic_dedup (hyperplane LSH)",
        # round-13: one doubling past 4x for every op with a join or a
        # fit (the r12 verdict's remaining super-linear-risk rows —
        # x62's pair join and the PQ Lloyd fits) plus the prebuilt
        # probe, whose 8x point demonstrates probed-rows-only cost
        "source_overlap (distinct gram pair join)",
        "pq_topk (codebook fit + ADC projection)",
        "ivfpq_topk (coarse probe + ADC projection)",
        "ivfpq_index_probe (prebuilt, partition-pruned)",
    ]
    SKEW_SLOPE_CAP = 2.5  # max tolerated t(2k)/t(k) per doubling

    def _index_dedup(d):
        idx = d.filter(F.col("doc_id") % 5 != 0)
        new = d.filter(F.col("doc_id") % 5 == 0)
        bands, sets = build_minhash_index(
            idx, "text", "doc_id", n_hashes=64, n_bands=16,
            use_char_ngrams=True, ngram=5,
        )
        return dedup_against_index(
            new, "text", "doc_id", bands, sets, threshold=0.8,
            n_hashes=64, n_bands=16, use_char_ngrams=True, ngram=5,
        ).count()

    emb_base = spark.read.parquet("/root/testdata/sf0.1/embeddings.parquet")

    def emb_corpus(k: int):
        parts = [emb_base]
        for r in range(1, k):
            parts.append(
                emb_base.select(
                    (F.col("vec_id") + r * 1_000_000).alias("vec_id"),
                    # perturb one dimension so replicas are near- (not
                    # exact-) duplicates of their source vector
                    F.transform(
                        "embedding",
                        lambda x, i: x + F.when(i == 0, 0.01 * r).otherwise(0.0),
                    ).alias("embedding"),
                    "label",
                )
            )
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    # prebuilt-index serving path (x69): build+save once per scale —
    # the FIRST rep pays it, best-of-2 keeps the probe-only rep — so
    # the recorded number is load + partition-pruned probe. The row
    # this produces backs the x69 claim: query cost scales with the
    # PROBED rows (nprobe/nc of the corpus), not the corpus.
    _ivfpq_saved: dict[int, str] = {}

    def _ivfpq_probe(d):
        import tempfile

        key = id(d)
        if key not in _ivfpq_saved:
            p = tempfile.mkdtemp(prefix="scale_ivfpq_")
            IvfPqIndex.build(d, "embedding", "vec_id", nc=8, m=2, k=8).save(p)
            _ivfpq_saved[key] = p
        idx = IvfPqIndex.load(spark, _ivfpq_saved[key])
        q = [float(x) for x in d.filter("vec_id = 0").first()["embedding"]]
        return idx.topk(q, top_k=10, nprobe=2).count()

    OPS_EMB = {
        "ivfpq_index_probe (prebuilt, partition-pruned)": _ivfpq_probe,
        "semantic_dedup (hyperplane LSH)": lambda d: semantic_dedup(
            d, "embedding", "vec_id", threshold=0.9
        ).count(),
        "kmeans_refine (2 Lloyd iters)": lambda d: kmeans_refine(
            d, "embedding", "vec_id", k=8, iters=2
        ).count(),
        "cluster_balanced_sample (two-phase quota)": lambda d:
            cluster_balanced_sample(
                d, "embedding", "vec_id", per_cluster=30, k=8, iters=2
            ).count(),
        "prototype_select (two-phase geometric quota)": lambda d:
            prototype_select(
                d, "embedding", "vec_id", per_cluster=30, k=8, iters=2
            ).count(),
        "pq_topk (codebook fit + ADC projection)": lambda d:
            pq_topk(
                d, "embedding", "vec_id", query_id=0, top_k=10, m=2, k=8
            ).count(),
        "ivfpq_topk (coarse probe + ADC projection)": lambda d:
            ivfpq_topk(
                d, "embedding", "vec_id", query_id=0, top_k=10,
                nc=8, nprobe=2, m=2, k=8
            ).count(),
    }

    # ops over BOTH corpora (doc ids and vec ids replicate with the
    # same shifts, so the shared id space survives every scale); the
    # query batch is the SAME builder the x46 entry uses, so the
    # bench measures exactly the shipped operator
    from __spark_entry__ import hybrid_query_batch

    def _hybrid(d, e):
        qtext, qvec = hybrid_query_batch(spark, e)
        return hybrid_rrf_topk(d, qtext, e, qvec).count()

    OPS_BOTH = {
        "hybrid_rrf_topk (BM25 + cosine fusion)": _hybrid,
    }

    # SPARK_GRAFT_SCALE_ONLY=<comma-separated name prefixes> restricts
    # the run (used to measure newly added operators without paying a
    # full-table regen; results are appended to SCALING.md by hand
    # with a provenance note)
    only = os.environ.get("SPARK_GRAFT_SCALE_ONLY", "").strip()
    if only:
        pre = tuple(p.strip() for p in only.split(",") if p.strip())
        OPS = {k: v for k, v in OPS.items() if k.startswith(pre)}
        OPS_EMB = {k: v for k, v in OPS_EMB.items() if k.startswith(pre)}
        OPS_BOTH = {k: v for k, v in OPS_BOTH.items() if k.startswith(pre)}

    # warmup: run every op once untimed (JVM/codegen warm, parquet
    # footers cached) so the 1x timings measure the operator, not the
    # first-query compilation
    warm = corpus(1).persist()
    warm.count()
    for fn in OPS.values():
        fn(warm)
        release()
    warm.unpersist()
    warm_e = emb_corpus(1).persist()
    warm_e.count()
    for fn in OPS_EMB.values():
        fn(warm_e)
        release()
    warm2 = corpus(1).persist()
    warm2.count()
    for fn in OPS_BOTH.values():
        fn(warm2, warm_e)
        release()
    warm2.unpersist()
    warm_e.unpersist()

    scales = [1, 2, 4]
    results: dict[str, list[tuple[int, float, int]]] = {k: [] for k in OPS}
    prop_rounds: list[tuple[int, int, int]] = []

    def _time_op(fn, *args):
        best, out_n = float("inf"), 0
        for _rep in range(2):  # best-of-2: GC/compilation noise
            t0 = time.perf_counter()
            out_n = fn(*args)
            best = min(best, time.perf_counter() - t0)
            release()
        return best, out_n

    for k in scales:
        d = corpus(k).persist()
        n = d.count()  # materialize input outside the timers
        e = emb_corpus(k).persist()
        n_e = e.count()
        for name, fn in OPS.items():
            best, out_n = _time_op(fn, d)
            results[name].append((n, best, out_n))
            print(f"{k}x {name}: {best:.2f}s ({out_n} rows)", flush=True)
        for name, fn in OPS_EMB.items():
            best, out_n = _time_op(fn, e)
            results.setdefault(name, []).append((n_e, best, out_n))
            print(f"{k}x {name}: {best:.2f}s ({out_n} rows)", flush=True)
        for name, fn in OPS_BOTH.items():
            best, out_n = _time_op(fn, d, e)
            results.setdefault(name, []).append((n, best, out_n))
            print(f"{k}x {name}: {best:.2f}s ({out_n} rows)", flush=True)
        # distributed min-label propagation (round 9: x20's driver
        # union-find path is capped at driver_max_edges; this measures
        # the branch PAST the cap on the same dup-heavy pair graph).
        # Pairs are materialized OUTSIDE the timer — the pair
        # generation already has its own curve above; the branch's
        # shuffle count grows with cluster diameter, so the measured
        # rounds are asserted at the star-topology bound instead of
        # trusting the docstring's 2-3 claim.
        if only:
            # filtered run: measured ops only, skip the min-label block
            d.unpersist()
            e.unpersist()
            continue
        best, out_n, rounds, n_pairs = float("inf"), 0, 0, 0
        for _rep in range(2):
            # rebuild the pair graph fresh each rep: duplicate_clusters
            # unpersists its input when done and release() drops
            # the generator's registered localCheckpoints, so a shared
            # handle cannot be recomputed on the second rep
            pr = minhash_lsh_pairs(
                d, "text", "doc_id", threshold=0.8, n_hashes=64, n_bands=16,
                use_char_ngrams=True, ngram=5,
            ).persist()
            n_pairs = pr.count()  # materialized outside the timer
            st: dict = {}
            t0 = time.perf_counter()
            out_n = duplicate_clusters(pr, driver_max_edges=0, stats=st).count()
            best = min(best, time.perf_counter() - t0)
            rounds = st["rounds"]
            assert st["branch"] == "distributed", st
            release()
        assert rounds <= 5, (
            f"label propagation took {rounds} rounds at {k}x — the "
            "near-dup star-topology bound (<=5) no longer holds"
        )
        name = "duplicate_clusters (distributed min-label)"
        results.setdefault(name, []).append((n_pairs, best, out_n))
        prop_rounds.append((k, n_pairs, rounds))
        print(
            f"{k}x {name}: {best:.2f}s ({out_n} rows, {n_pairs} edges, "
            f"{rounds} rounds)",
            flush=True,
        )
        d.unpersist()
        e.unpersist()

    # extra 8x point for the skew-sensitive operators (round-12 brief:
    # one more doubling past 4x so the salt / two-phase-quota defenses
    # are OBSERVED where hot keys have 8x the mass, with the slope
    # asserted instead of trusted)
    skew_run = [n for n in SKEW_OPS if n in OPS or n in OPS_EMB]
    if skew_run:
        # guard the 8x corpus build too: a SPARK_GRAFT_SCALE_ONLY run
        # that filters out every skew op must not pay minutes building
        # and counting d8/e8 just to iterate an empty list (round-12
        # ADVICE)
        d8 = corpus(8).persist()
        n8 = d8.count()
        e8 = emb_corpus(8).persist()
        n8_e = e8.count()
        for name in skew_run:
            if name in OPS:
                best, out_n = _time_op(OPS[name], d8)
                results[name].append((n8, best, out_n))
            else:
                best, out_n = _time_op(OPS_EMB[name], e8)
                results[name].append((n8_e, best, out_n))
            print(f"8x {name}: {best:.2f}s ({out_n} rows)", flush=True)
        d8.unpersist()
        e8.unpersist()
    slope_lines = []
    for name in skew_run:
        t4, t8 = results[name][2][1], results[name][3][1]
        slope = t8 / max(t4, 1e-9)
        # sub-second absolute times are scheduler-noise-dominated; the
        # cap guards the operators that actually cost something
        assert slope <= SKEW_SLOPE_CAP or t8 < 1.0, (
            f"{name}: t(8x)/t(4x) = {slope:.2f} exceeds the "
            f"{SKEW_SLOPE_CAP}x-per-doubling cap — a hot-key defense "
            "stopped holding between 4x and 8x"
        )
        slope_lines.append(f"{name}: {slope:.2f}")

    if only:
        # filtered run: print markdown rows for hand-merging into
        # SCALING.md, never overwrite the full table
        for name, rows in results.items():
            t1, t2, t4 = (r[1] for r in rows[:3])
            t8 = f"{rows[3][1]:.2f}" if len(rows) > 3 else "—"
            print(
                f"ROW | {name} | {t1:.2f} | {t2:.2f} | {t4:.2f} | {t8} | "
                f"{t4 / max(t1, 1e-9):.2f} | counts="
                f"{[r[2] for r in rows]}"
            )
        spark.stop()
        return

    # preserve hand-maintained sections (the training-at-scale record)
    # across regenerations of the measured table
    scaling_path = os.path.join(REPO, "SCALING.md")
    extra = ""
    if os.path.exists(scaling_path):
        old = open(scaling_path).read()
        marker = "\n## "
        pos = old.find(marker)
        if pos != -1:
            extra = old[pos:]
    with open(scaling_path, "w") as f:
        f.write(
            "# SCALING — measured operator scaling curves\n\n"
            f"Generated by `tools/scale_stress.py` on local[32], input =\n"
            f"sf0.1 documents ({n_base} docs) replicated as near-duplicates\n"
            "(suffix-perturbed) to 2x and 4x — the dup-heavy shape real\n"
            "dedup corpora have. `t(4x)/t(1x)` near 4 = linear; the LSH\n"
            "operators stay near-linear because candidate pairs come from\n"
            "band buckets, never an O(N^2) join.\n\n"
            "| operator | 1x secs | 2x secs | 4x secs | 8x secs "
            "| t(4x)/t(1x) |\n"
            "|---|---|---|---|---|---|\n"
        )
        for name, rows in results.items():
            t1, t2, t4 = (r[1] for r in rows[:3])
            t8 = f"{rows[3][1]:.2f}" if len(rows) > 3 else "—"
            f.write(
                f"| {name} | {t1:.2f} | {t2:.2f} | {t4:.2f} | {t8} | "
                f"{t4 / max(t1, 1e-9):.2f} |\n"
            )
        if slope_lines:
            f.write(
                "\n8x points are measured for the skew-sensitive "
                "operators only; the\nharness ASSERTS "
                f"t(8x)/t(4x) <= {SKEW_SLOPE_CAP} per doubling "
                "(observed: " + "; ".join(slope_lines) + ").\n"
            )
        f.write(
            "\nOutput row counts per scale (pair counts grow with the\n"
            "planted duplicate mass, as expected): "
            + "; ".join(
                f"{name}: {[r[2] for r in rows]}"
                for name, rows in results.items()
            )
            + "\n"
        )
        if prop_rounds:
            f.write(
                "\nDistributed min-label propagation (driver_max_edges=0,"
                " forcing the\nbranch past the union-find cap):"
                " rounds to convergence per scale =\n"
                + ", ".join(
                    f"{k}x: {r} rounds over {e} edges"
                    for k, e, r in prop_rounds
                )
                + " — asserted <= 5 by the harness\n(the shuffle count"
                " grows with cluster diameter; near-dup graphs stay\n"
                "star-like, so the branch is iteration-bounded at scale).\n"
            )
        if extra:
            f.write(extra)
    print("wrote SCALING.md")
    spark.stop()


if __name__ == "__main__":
    main()
