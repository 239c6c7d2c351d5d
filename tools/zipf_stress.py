#!/usr/bin/env python
"""Zipf-vocabulary scale stress for the dedup/ANN family (VERDICT r7
item 2, carried from r6 item 1).

The shipped text fixture draws from a ~31-word vocabulary, so LSH
candidate volumes, posting-list skew, and the dense/sparse regime
thresholds at PRODUCTION vocabulary were unmeasured. This tool
generates a deterministic corpus with production-shaped statistics —
default 100k Zipf(s=1.1) token types over 10x the sf0.1 document count,
with injected near-duplicates (~7.7%) and per-source boilerplate
prefixes — plus 10x embeddings with cluster structure, then measures:

- wall time per dedup/ANN query (noop sink, min-of-2 — bench.py's
  convention),
- MinHash-LSH band-bucket skew and candidate-pair volume (the scale
  numbers banding exists to bound),
- IVF cell-size skew from the persisted partitioned index,
- the dense-regime refusal contract (bitmask kernels must REFUSE this
  vocabulary, not attempt a 1563-word mask row).

Writes ONE JSON document (default BENCH_r9_zipf.json). Deterministic:
numpy default_rng(SEED); no wall-clock anywhere in the data.

Usage: python tools/zipf_stress.py [--out DIR] [--json PATH]
       [--docs N] [--vecs N] [--vocab N]
"""

from __future__ import annotations

import argparse
import json
import sys
import time
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

SEED = 8
ZIPF_S = 1.1

BENCH_QUERIES = [
    # sparse-regime dedup (the 100 TB defaults at this vocabulary)
    "llm_dedup_minhash_lsh",
    "llm_dedup_lsh_stored",
    "llm_dedup_containment",   # auto-switches to its sparse branch here
    "llm_dedup_near_ngram",
    "llm_dedup_near_ngram_capped",
    "llm_dedup_ppjoin",
    "llm_dedup_substring",
    "llm_boilerplate_segments",
    # streaming ingest-dedup at production vocabulary: the band-key
    # bloom prefilter's ON regime (r9) only exists above the dense cap
    "stream_dedup_lsh_absorb",
    # text analysis with vocabulary-scaling joins (r8 extension): the
    # LM/retrieval ops whose join cardinality tracks |vocab| or
    # |vocab|^2, unmeasured at production type counts until now
    "llm_tfidf",
    "llm_bm25_score",
    "llm_lm_score_bigram",
    "llm_vocab_coverage",
    "llm_zipf_slope",
    "llm_keyword_extract",
    # ANN family
    "llm_sim_knn_ivf",
    "llm_sim_knn_ivf_stored",
    "llm_sim_knn_lsh",
    "llm_sim_knn_ivf_pq",
    "llm_sim_knn_ivf_pq_rerank",
    "llm_sim_knn_ivf_pq_stored",
    "llm_sim_knn_ivf_pq_delta",
    # r11 retrieval additions, first run at stress scale (r12 —
    # VERDICT r11 item 6): MaxSim's token-grid join and RRF's
    # two-ranking fusion both scale with corpus size x query count
    "llm_sim_maxsim_colbert",
    "llm_rag_fusion_rrf",
    # r13 (VERDICT r12 items 4-6): wordpiece claims 90k-type behavior —
    # measure it; the unigram trainer's E-step kernel parallelism and
    # the KN scorer's bigram-type joins both track |vocab|
    # (stream_hdr_rollup is events-shaped: it stresses in ts_stress.py)
    "llm_tokenizer_wordpiece",
    "llm_tokenizer_unigram_train",
    "llm_lm_score_kn",
    # r14: the GD trace's margins/gradients join the hashed features —
    # 90k types hash into 64 buckets (near-total collision), the
    # hashing-trick worst case the classifier must absorb linearly
    "llm_quality_classifier_train",
    # r15: the serving half — frozen-weights scoring is one broadcast
    # join over the same worst-case hashed features; and the graph-ANN
    # build + bounded delta absorb at 10x vectors (graph build is the
    # index-training class; the absorb must stay O(batch x M))
    "llm_quality_classifier_apply",
    "llm_sim_knn_hnsw",
    "llm_sim_knn_hnsw_delta",
    # r15 late: LSA's vocab cap is the whole scale claim — at 90k types
    # the top-64 selection + bounded Gram must hold wall flat vs the
    # 31-term fixture (the dense factorization never sees the tail)
    "llm_topic_lsa",
    # r15 late: whitening's covariance fan-out is width-bounded (64^2
    # per vector) — at 20k vectors the corpus passes must stay linear
    "llm_embed_whitening",
]

# bitmask (dense-regime) kernels MUST refuse a 100k vocabulary
REFUSAL_QUERIES = ["llm_dedup_near", "llm_dedup_near_decision",
                   "llm_dedup_near_weighted"]


def generate(out_dir: Path, n_docs: int, n_vecs: int, vocab: int) -> dict:
    """Write documents.parquet + embeddings.parquet (testdata schemas)."""
    out_dir.mkdir(parents=True, exist_ok=True)
    rng = np.random.default_rng(SEED)

    ranks = np.arange(1, vocab + 1, dtype=np.float64)
    w = 1.0 / ranks**ZIPF_S
    cum = np.cumsum(w / w.sum())

    lens = 20 + (np.arange(n_docs) * 7) % 80
    total = int(lens.sum())
    draws = np.searchsorted(cum, rng.random(total))

    docs, pos = [], 0
    langs = ["en", "zh", "de", "fr", "es"]
    # fixed 6-token boilerplate header per source (20 sources)
    boiler = {
        s: [f"w{(s * 977 + j * 131) % vocab}" for j in range(6)]
        for s in range(20)
    }
    for d in range(n_docs):
        n = int(lens[d])
        toks = [f"w{i}" for i in draws[pos : pos + n]]
        pos += n
        if d % 13 == 12 and d >= 7:
            # near-duplicate of doc d-7: same tokens, ~5% perturbed
            toks = list(docs[d - 7][1].split(" "))
            for j in range(0, len(toks), 20):
                toks[j] = f"w{(d * 331 + j) % vocab}"
        if d % 5 < 2:
            toks = boiler[d % 20] + toks
        text = " ".join(toks)
        docs.append((d, text, langs[d % 5], f"src{d % 20}", len(text)))

    pq.write_table(
        pa.table({
            "doc_id": pa.array([r[0] for r in docs], pa.int64()),
            "text": pa.array([r[1] for r in docs], pa.string()),
            "lang": pa.array([r[2] for r in docs], pa.string()),
            "source": pa.array([r[3] for r in docs], pa.string()),
            "n_chars": pa.array([r[4] for r in docs], pa.int64()),
        }),
        out_dir / "documents.parquet",
    )

    n_centers = max(16, int(np.sqrt(n_vecs)))
    centers = rng.normal(size=(n_centers, 64))
    noise = rng.normal(size=(n_vecs, 64)) * 0.15
    ids = np.arange(n_vecs)
    vecs = (centers[ids % n_centers] + noise).astype(np.float32)
    pq.write_table(
        pa.table({
            "vec_id": pa.array(ids, pa.int64()),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array((ids % 10).astype(np.int32), pa.int32()),
        }),
        out_dir / "embeddings.parquet",
    )
    uniq, counts = np.unique(draws, return_counts=True)
    return {
        "n_docs": n_docs, "n_vecs": n_vecs, "vocab_nominal": vocab,
        "vocab_drawn": int(len(uniq)),
        "tokens_total": total,
        "top1_type_share": round(float(counts.max()) / total, 4),
        "near_dup_docs": sum(1 for d in range(n_docs) if d % 13 == 12 and d >= 7),
    }


def _force(df) -> None:
    df.write.mode("overwrite").format("noop").save()


def lsh_diagnostics(spark, sf_dir: str) -> dict:
    """Band-bucket skew + candidate volume from the module's own
    signature/banding kernels — the numbers banding exists to bound."""
    from pyspark.sql import functions as F

    from hdfs_mr_spark.operators.llm_dedup import (
        _shingle_frame, band_keys_of, minhash_sig_of,
    )

    keyed = band_keys_of(minhash_sig_of(_shingle_frame(spark, sf_dir)))
    buckets = keyed.groupBy("band", "h1", "h2").agg(F.count("*").alias("c"))
    row = buckets.agg(
        F.count("*").alias("n_buckets"),
        F.max("c").alias("max_bucket"),
        F.expr("approx_percentile(c, 0.99)").alias("p99_bucket"),
        F.sum(F.expr("c * (c - 1) / 2")).cast("bigint").alias("cand_pairs"),
    ).first()
    return {
        "n_buckets": int(row["n_buckets"]),
        "max_bucket": int(row["max_bucket"]),
        "p99_bucket": int(row["p99_bucket"]),
        "candidate_pairs": int(row["cand_pairs"]),
    }


def ngram_dispatch_diagnostics(spark, sf_dir: str) -> dict:
    """Pair-set equality proof for the near_ngram regime dispatch
    (VERDICT r8 item 1): the df-capped candidate generation that
    llm_dedup_near_ngram dispatches to above _NGRAM_DF_CAP must
    produce EXACTLY the uncapped posting formulation's >= 0.5 pair
    set on this corpus — 0 missed / 0 extra, counted here by two
    anti-joins against the uncapped plan run once at stress scale."""
    from hdfs_mr_spark import stats as corpus_stats
    from hdfs_mr_spark.operators.llm_dedup import (
        _NGRAM_DF_CAP, _capped_trigram_pairs, _trigram_exact_pairs,
    )

    mdf = corpus_stats.max_shingle_df(spark, sf_dir)
    capped = _capped_trigram_pairs(spark, sf_dir).select("d1", "d2")
    exact = _trigram_exact_pairs(spark, sf_dir).select("d1", "d2")
    return {
        "max_shingle_df": mdf,
        "df_cap": _NGRAM_DF_CAP,
        "dispatched_branch": "capped" if mdf > _NGRAM_DF_CAP else "uncapped",
        "exact_pairs": exact.count(),
        "capped_missed": exact.join(capped, ["d1", "d2"], "left_anti").count(),
        "capped_extra": capped.join(exact, ["d1", "d2"], "left_anti").count(),
    }


def ivf_diagnostics(spark, sf_dir: str) -> dict:
    """Cell-size skew of the persisted partitioned IVF index (built by
    llm_sim_knn_ivf_stored as a side effect of the bench run)."""
    from pyspark.sql import functions as F

    from hdfs_mr_spark.sources.scans import _fixture_dir

    store = Path(_fixture_dir(sf_dir)) / "ivf_store" / "corpus"
    if not store.exists():
        return {"note": "ivf store absent"}
    sizes = (
        spark.read.parquet(str(store)).groupBy("cell")
        .agg(F.count("*").alias("c"))
    )
    row = sizes.agg(
        F.count("*").alias("n_cells"), F.min("c").alias("mn"),
        F.expr("approx_percentile(c, 0.5)").alias("med"),
        F.max("c").alias("mx"),
    ).first()
    return {
        "n_cells": int(row["n_cells"]), "min_cell": int(row["mn"]),
        "median_cell": int(row["med"]), "max_cell": int(row["mx"]),
    }


def deep_lake_diagnostics(spark, store_root: Path) -> dict:
    """DEEP-COMMIT-LOG stress for the partition-pruned streaming tail
    (r12 — VERDICT r11 item 6: the registered op's fixture is a
    shallow 7-commit store; at 100 TB a tenant feed tails a log that
    is thousands of commits deep, and the costs that scale with depth
    are (a) the driver-side log fold in plan_tail_partitions and
    (b) the per-micro-batch incremental plan). Builds a 50-commit
    hive-partitioned store (10 partitions, one file per commit,
    round-robin), then measures:

    - full-tail planning (one fold over all 50 commits, pruned to the
      target partition's 5 files),
    - the 50-step incremental planning loop a long-running stream
      actually executes (one (v-1, v] plan per micro-batch),
    - a REAL end-to-end drain through a DataSourceStreamReader that
      mirrors stream_lake_partition_tail's reader (same shared
      planner, same planner-pid guard, parameterized store/column —
      the op body itself is closed over its 7-commit fixture, which
      is exactly why this harness exists),

    and verifies the drained rows equal the target partition's
    content exactly."""
    import shutil

    from pyspark.sql import functions as F
    from pyspark.sql.datasource import (DataSource, DataSourceStreamReader,
                                        InputPartition)

    from hdfs_mr_spark.functions.udfs import REPO_ROOT
    from hdfs_mr_spark.sources.lake import _commit
    from hdfs_mr_spark.streaming.lake_source import plan_tail_partitions
    from hdfs_mr_spark.streaming.queries import _drain

    n_commits, n_parts, rows_per_file = 50, 10, 5000
    root = store_root / "deep_lake"
    if not (root / "_DONE").exists():
        shutil.rmtree(root, ignore_errors=True)
        (root / "data").mkdir(parents=True)
        for k in range(n_commits):
            pval = k % n_parts
            ids = np.arange(rows_per_file, dtype=np.int64) + k * rows_per_file
            rel = f"data/p={pval}/c{k:05d}.parquet"
            (root / rel).parent.mkdir(parents=True, exist_ok=True)
            pq.write_table(
                pa.table({"id": pa.array(ids),
                          "val": pa.array(ids * 31 % 997)}),
                root / rel,
            )
            assert _commit(root / "_log", k, {
                "add": [{"path": rel, "partitionValues": {"p": str(pval)}}],
                "remove": [],
            })
        (root / "_DONE").touch()

    t0 = time.time()
    full_plan = plan_tail_partitions(str(root), -1, n_commits - 1, "p", "3")
    t_plan_full = round(time.time() - t0, 4)
    t0 = time.time()
    inc_files = 0
    for v in range(n_commits):
        inc_files += len(
            plan_tail_partitions(str(root), v - 1, v, "p", "3")
        )
    t_plan_incremental = round(time.time() - t0, 4)

    root_s, repo = str(root), REPO_ROOT

    class DeepPart(InputPartition):
        def __init__(self, root, rel, planner_pid):
            self.root, self.rel, self.planner_pid = root, rel, planner_pid

    class DeepTailReader(DataSourceStreamReader):
        # parameterized mirror of stream_lake_partition_tail's reader
        # (streaming/queries.py) — shared planner, executor-side
        # pyarrow reads behind the same planner-pid guard
        def __init__(self):
            self.cur = -1

        def _mod(self, name):
            import importlib
            import sys as _sys

            if repo not in _sys.path:
                _sys.path.insert(0, repo)
            return importlib.import_module(name)

        def initialOffset(self):
            return {"version": -1}

        def latestOffset(self):
            from pathlib import Path as _P

            lake = self._mod("hdfs_mr_spark.sources.lake")
            vs = lake._log_versions(_P(root_s))
            if vs:
                self.cur = max(self.cur, vs[-1])
            return {"version": self.cur}

        def partitions(self, start, end):
            import os as _os

            self.cur = max(self.cur, end["version"])
            src = self._mod("hdfs_mr_spark.streaming.lake_source")
            return [
                DeepPart(root_s, f, _os.getpid())
                for _v, f in src.plan_tail_partitions(
                    root_s, start["version"], end["version"], "p", "3")
            ]

        def read(self, partition):
            import os as _os

            if _os.getpid() == partition.planner_pid:
                raise RuntimeError("rows routed through planner process")
            from pathlib import Path as _P

            import pyarrow.parquet as _pq

            t = _pq.read_table(_P(partition.root) / partition.rel,
                               columns=["id", "val"])
            yield from zip(t.column("id").to_pylist(),
                           t.column("val").to_pylist())

        def commit(self, end):
            self.cur = max(self.cur, end["version"])

    class DeepTailSource(DataSource):
        @classmethod
        def name(cls):
            return "hmr_deep_lake_tail"

        def schema(self):
            return "id bigint, val bigint"

        def streamReader(self, schema):
            return DeepTailReader()

    try:
        spark.dataSource.register(DeepTailSource)
    except Exception as exc:
        if ("exist" not in str(exc).lower()
                and "already" not in str(exc).lower()):
            raise

    t0 = time.time()
    d = _drain(
        spark.readStream.format("hmr_deep_lake_tail").load()
        .groupBy().agg(F.count("*").alias("n"), F.sum("id").alias("s"))
        .writeStream.format("memory").outputMode("complete"),
        timeout=600,
    )
    t_drain = round(time.time() - t0, 3)
    got = d.table.first()
    # ground truth: partition 3 owns commits {3,13,23,33,43}
    own = [k for k in range(n_commits) if k % n_parts == 3]
    exp_n = len(own) * rows_per_file
    exp_s = sum(
        int(np.arange(rows_per_file, dtype=np.int64).sum()
            + k * rows_per_file * rows_per_file)
        for k in own
    )
    return {
        "n_commits": n_commits, "n_partitions": n_parts,
        "files_live": n_commits,
        "files_planned_full": len(full_plan),
        "files_planned_incremental": inc_files,
        "t_plan_full_s": t_plan_full,
        "t_plan_incremental_50x_s": t_plan_incremental,
        "t_drain_s": t_drain,
        "rows_drained": int(got["n"]),
        "rows_expected": exp_n,
        "idsum_ok": bool(int(got["s"]) == exp_s),
    }


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--out", default="/tmp/hmr_zipf/sfz")
    ap.add_argument("--json", default="BENCH_r9_zipf.json")
    ap.add_argument("--docs", type=int, default=50000)
    ap.add_argument("--vecs", type=int, default=20000)
    ap.add_argument("--vocab", type=int, default=100000)
    args = ap.parse_args()

    out = Path(args.out)
    gen_stats = generate(out, args.docs, args.vecs, args.vocab)
    print("generated:", json.dumps(gen_stats), flush=True)

    from hdfs_mr_spark.registry import all_specs
    from hdfs_mr_spark.session import get_spark

    spark = get_spark("zipf-stress")
    # bench.py's convention: the PQ index frames are PRE-BUILT stored
    # artifacts at 100 TB; reuse measures query-side steady state while
    # run 1 still records the one-time build (both runs are emitted)
    spark.conf.set("spark.hdfs_mr.pq.reuseIndex", "true")
    specs = all_specs()
    sf = str(out)

    timings: dict[str, float] = {}
    all_runs: dict[str, list[float]] = {}
    for name in BENCH_QUERIES:
        runs = []
        for _ in range(2):
            t0 = time.time()
            _force(specs[name].fn(spark, sf))
            runs.append(round(time.time() - t0, 3))
        timings[name] = min(runs)
        all_runs[name] = runs
        print(f"bench {name}: {runs} -> {timings[name]}s", flush=True)
        spark.sparkContext._jvm.System.gc()

    refusals = {}
    for name in REFUSAL_QUERIES:
        try:
            _force(specs[name].fn(spark, sf))
            refusals[name] = "RAN (regime guard FAILED to refuse)"
        except ValueError as exc:
            refusals[name] = f"refused: {str(exc)[:80]}"
        print(f"refusal {name}: {refusals[name]}", flush=True)

    diag = {
        "lsh": lsh_diagnostics(spark, sf),
        "ivf": ivf_diagnostics(spark, sf),
        "ngram_dispatch": ngram_dispatch_diagnostics(spark, sf),
        "deep_lake": deep_lake_diagnostics(spark, out.parent),
    }
    print("diagnostics:", json.dumps(diag), flush=True)

    # environment control (r14): the r14 stress runs landed in a window
    # where the HOST itself ran 1.1-1.45x slow (hypervisor steal; zero
    # local CPU consumers) — embed the frozen bench_control probes so
    # every stress artifact self-documents its recording environment
    # exactly like BENCH_r{N}.json does.
    from tools.bench_control import run_control

    control = run_control(spark, "/root/testdata/sf0.1")
    print("control:", json.dumps(control), flush=True)

    result = {
        "metric": "zipf_stress_wall",
        "control": control,
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "runs": all_runs,
        "corpus": gen_stats,
        "regime_refusals": refusals,
        "diagnostics": diag,
        "seed": SEED, "zipf_s": ZIPF_S,
    }
    Path(args.json).write_text(json.dumps(result, indent=1) + "\n")
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
