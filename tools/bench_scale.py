"""Scale-stress harness: proves the 100 TB design claims empirically.

sf0.1 correctness runs touch 5k documents and 2k embeddings; every scale
claim in the docs ("bucketed candidates, never all-pairs", "probe cost is
O(files in probed cells), not O(corpus)", "partition-scoped upsert") was
architectural until this harness. It generates synthetic corpora at 10-100x
those sizes (sources/synthetic.py: deterministic, distributed, no driver
data) and measures:

1. **ANN probe ~sqrt(N) vs brute-force ~linear** as the corpus grows 10x:
   cells scale ~0.2*sqrt(N) (similarity.default_n_cells — linear cells
   make the build quadratic), the persisted index prunes files by cell,
   and the recall-targeted auto probe width keeps probed rows growing
   ~sqrt(10) ~ 3.2x per 10x corpus (asserted by the
   ivf_probed_rows_growth_10x claim), while the brute-force baseline must
   score all N rows.
2. **MinHash-LSH dedup near-linear** at 10x (banded self-join, exact
   verify on candidates only) + the signature-checkpoint trade, measured
   both ways at both scales (VERDICT r4 task #3).
3. **clean-corpus pipeline linear** (single dedup-window shuffle).
4. **Partitioned upsert cost tracks the batch, not table size** at the
   reference's own 10M-row mock workload (mock_dataset_gen.py:9-14): the
   merge-on-read upsert writes only its batch, so a batch confined to one
   of four partitions (a quarter of the rows) should cost ~1/4 of a batch
   spread over all four.

Run:   python tools/bench_scale.py [section ...]   (writes BENCH_SCALE.json)
       sections: documents embeddings mutations upsert (default: all).
       A partial run MERGES into the existing json — untouched sections
       keep their previous phases/samples/notes; claims recompute from the
       merged phase set, so a subset rerun never fabricates or drops data.
Env:   SPARK_GRAFT_SCALE=1.0  multiplies all row counts (0.1 = smoke run)
       SPARK_GRAFT_SCALE_REPS=3  repetitions for the cheap (probe) phases
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
# 24g heap: in local mode the one JVM is driver + every executor; a bigger
# heap just defers GC and balloons RSS until the kernel OOM-kills it under
# the ~16 GB the 32 python workers also need (observed with 48g: JVM RSS
# 52 GB -> global reclaim thrash -> oom-kill mid-phase).
os.environ.setdefault("SPARK_DRIVER_MEMORY", "24g")
# one BLAS thread per python worker: 32 workers x N BLAS threads oversubscribe
# the box and turn batch matmuls into scheduler thrash; the workers are the
# parallelism. Must be set before the JVM (and its forked workers) start.
for _v in ("OPENBLAS_NUM_THREADS", "OMP_NUM_THREADS", "MKL_NUM_THREADS"):
    os.environ.setdefault(_v, "1")

from pyspark.sql import functions as F  # noqa: E402

from pyiceberg_lakehouse_spark.session import get_spark  # noqa: E402
from pyiceberg_lakehouse_spark.sources.synthetic import (  # noqa: E402
    mock_dataset,
    mock_documents,
    mock_embeddings,
)

SCALE = float(os.environ.get("SPARK_GRAFT_SCALE", "1.0"))
REPS = int(os.environ.get("SPARK_GRAFT_SCALE_REPS", "3"))
OUT = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                   "BENCH_SCALE.json")

DOC_SCALES = [int(100_000 * SCALE), int(1_000_000 * SCALE)]
VEC_SCALES = [int(1_000_000 * SCALE), int(10_000_000 * SCALE)]
MOCK_ROWS = int(10_000_000 * SCALE)
MUT_SCALES = [int(1_000_000 * SCALE), int(10_000_000 * SCALE)]
N_QUERIES, TOP_K, N_PROBE = 8, 10, 4


def drain(df) -> None:
    df.write.format("noop").mode("overwrite").save()


class Bench:
    def __init__(self):
        self.phases: dict[str, float] = {}
        self.samples: dict[str, list[float]] = {}
        self.notes: dict[str, object] = {}

    def run(self, label: str, fn, reps: int = 1, warmup: bool = False):
        # warmup=True: one untimed run first — separates steady-state compute
        # from this sandbox's wildly variable cold-file IO (no page cache in
        # the cgroup; first-touch reads have been observed 5x slower than the
        # rerun minutes apart). The file-count notes are the IO-independent
        # evidence for the pruning claims.
        if warmup:
            fn()
        runs, result = [], None
        for _ in range(reps):
            t0 = time.time()
            result = fn()
            runs.append(time.time() - t0)
        self.samples[label] = [round(x, 3) for x in runs]
        self.phases[label] = round(statistics.median(runs), 3)
        print(f"{label}: {self.phases[label]}s  {runs}", flush=True)
        return result


def bench_documents(spark, b: Bench, tmp: str) -> None:
    from pyiceberg_lakehouse_spark.operators.dedup import (
        decontaminate,
        minhash_lsh_pairs,
    )
    from pyiceberg_lakehouse_spark.operators.queries import clean_corpus

    for n in DOC_SCALES:
        tag = f"{n//1000}k"
        path = os.path.join(tmp, f"docs_{n}")
        mock_documents(spark, n).write.mode("overwrite").parquet(path)
        docs = spark.read.parquet(path)

        # A/B: checkpoint_signatures defaults to True in dedup.py; BOTH arms
        # pass the flag explicitly anyway so the comparison stays honest
        # regardless of the shipped default. A throwaway warmup run first so
        # neither arm gets penalized for cold file/JVM caches (the second
        # arm used to run on a warm cache the first never had).
        minhash_lsh_pairs(docs, "text", "doc_id").count()
        pairs = b.run(
            f"minhash_ckpt_{tag}",
            lambda d=docs: minhash_lsh_pairs(
                d, "text", "doc_id", checkpoint_signatures=True
            ).count(),
        )
        b.notes[f"minhash_pairs_{tag}"] = pairs
        b.run(
            f"minhash_nockpt_{tag}",
            lambda d=docs: minhash_lsh_pairs(
                d, "text", "doc_id", checkpoint_signatures=False
            ).count(),
        )
        # planted truth: one ~0.9-Jaccard pair per 20 ids => recall check
        planted = sum(1 for i in range(n) if i % 20 == 1)
        b.notes[f"minhash_planted_{tag}"] = planted
        b.run(
            f"clean_corpus_{tag}", lambda d=docs: drain(clean_corpus(d)), reps=REPS
        )
        # eval-set decontamination: ~1% of docs as the eval side; cost must
        # track the TRAIN side linearly (one exploded pass + broadcast
        # shingle join — no self-join), so 10x docs => ~10x wall, never the
        # candidate-pair blowup of the dedup path
        ev = docs.filter(F.col("doc_id") % 101 == 0)
        tr = docs.filter(F.col("doc_id") % 101 != 0)
        flagged = b.run(
            f"decontam_{tag}",
            lambda t=tr, e=ev: decontaminate(t, e, k=3).count(),
            reps=REPS,
            warmup=True,
        )
        b.notes[f"decontam_flagged_{tag}"] = flagged
        # exact substring-span coverage (r10): one kgram groupBy + one
        # per-doc window — cost must track total tokens ~linearly, never
        # any pairwise blowup; the planted near-dup pairs guarantee real
        # duplicated spans exist at every scale
        from pyiceberg_lakehouse_spark.operators.dedup import (
            duplicated_span_coverage,
        )

        b.run(
            f"substring_spans_{tag}",
            lambda d=docs: drain(duplicated_span_coverage(d)),
            reps=REPS,
            warmup=True,
        )
        # BPE vocabulary learning (r10): after the single word-frequency
        # pass, every merge iteration runs over the VOCABULARY-sized table,
        # so 10x docs must cost ~the first pass's growth, nowhere near 10x
        # per iteration
        from pyiceberg_lakehouse_spark.operators.bpe import learn_bpe

        b.run(
            f"bpe_learn_{tag}",
            lambda d=docs: len(learn_bpe(d, num_merges=8)),
            warmup=True,
        )


def bench_embeddings(spark, b: Bench, tmp: str) -> None:
    from pyiceberg_lakehouse_spark.lakehouse import Lakehouse
    from pyiceberg_lakehouse_spark.lakehouse.maintenance import (
        build_ivf_index,
        build_pq_index,
    )
    from pyiceberg_lakehouse_spark.operators import similarity

    for n in VEC_SCALES:
        tag = f"{n//1000}k"
        wh = os.path.join(tmp, f"wh_{n}")
        lh = Lakehouse(spark, wh)
        emb = mock_embeddings(spark, n)
        t = lh.create_table(f"scale.emb_{n}", emb.schema)
        b.run(f"emb_ingest_{tag}", lambda: t.append(emb))

        queries = t.scan().filter(F.col("vec_id") < N_QUERIES).select(
            "vec_id", "embedding"
        )
        brute = b.run(
            f"brute_topk_{tag}",
            lambda: {
                (r.qid, r.vid)
                for r in similarity.cosine_topk(
                    t.scan(), queries, k=TOP_K, exact=False
                ).collect()
            },
            reps=REPS,
        )

        k_cells = similarity.default_n_cells(n)
        b.notes[f"ivf_cells_{tag}"] = k_cells
        # builds are rewrite-dominated and this sandbox's write-phase wall
        # swings up to ~3x between same-code runs (BENCH_ADJUDICATION.md)
        # — a single sample cannot support a growth gate, so builds take
        # the median of 3 (rebuilding an indexed table is supported)
        b.run(
            f"ivf_build_{tag}",
            lambda: build_ivf_index(
                t, k=k_cells, sample_cap=max(4096, 8 * k_cells)
            ),
            reps=REPS,
        )
        # 32 subspaces (8x compression) for the adversarial isotropic
        # corpus; see build_pq_index docstring for the measured dial
        b.run(
            f"pq_build_{tag}",
            lambda: build_pq_index(t, n_subspaces=32),
            reps=REPS,
        )

        probe = b.run(
            f"ivf_probe_{tag}",
            lambda: {
                (r.qid, r.vid)
                for r in similarity.ivf_index_topk(
                    t, queries, k=TOP_K, n_probe=N_PROBE
                ).collect()
            },
            reps=REPS,
            warmup=True,
        )
        pq_probe = b.run(
            f"ivfpq_probe_{tag}",
            lambda: {
                (r.qid, r.vid)
                for r in similarity.ivf_pq_topk(
                    t, queries, k=TOP_K, n_probe=N_PROBE
                ).collect()
            },
            reps=REPS,
            warmup=True,
        )
        b.notes[f"ivf_recall_{tag}"] = round(len(probe & brute) / len(brute), 3)
        b.notes[f"ivfpq_recall_{tag}"] = round(
            len(pq_probe & brute) / len(brute), 3
        )
        # IO-independent pruning evidence: how many of the table's files does
        # the probe scan actually touch for this query set?
        import json as _json

        import numpy as np

        cents = np.array(_json.loads(t.log.properties["ivf.centroids"]))
        Q = np.array(
            [[float(x) for x in r[1]] for r in queries.collect()]
        )
        probed_cells = sorted(
            {int(c) for row in np.argsort(-(Q @ cents.T), axis=1)[:, :N_PROBE] for c in row}
        )
        from pyiceberg_lakehouse_spark.lakehouse.stats import prune_files

        files = t.log.live_files()
        b.notes[f"files_total_{tag}"] = len(files)
        b.notes[f"files_probed_{tag}"] = len(
            prune_files(files, {"ivf_cell": ("in", probed_cells)})
        )

        # --- recall governance (VERDICT r5 task #2): auto n_probe scales
        # with the cell count so recall holds as cells grow ~N/cell_rows,
        # where a FIXED n_probe decays (0.988 -> 0.80 measured in r5)
        auto_np = similarity.resolve_n_probe(k_cells, None)
        b.notes[f"ivf_auto_n_probe_{tag}"] = auto_np
        # cost-model evidence: rows the governed probe must score. The
        # sqrt-N cell sizing + recall-targeted width must keep this growing
        # ~sqrt(10) per 10x corpus (claim ivf_probed_rows_growth_10x) —
        # the r5/r6 fixed-fraction rule walked a LINEAR trajectory here
        b.notes[f"ivf_probed_rows_{tag}"] = auto_np * n // k_cells
        auto = b.run(
            f"ivf_probe_auto_{tag}",
            lambda: {
                (r.qid, r.vid)
                for r in similarity.ivf_index_topk(
                    t, queries, k=TOP_K, n_probe=None
                ).collect()
            },
            reps=REPS,
            warmup=True,
        )
        b.notes[f"ivf_recall_auto_{tag}"] = round(len(auto & brute) / len(brute), 3)

        # --- incremental index maintenance (VERDICT r5 task #3): append
        # ~2% new vectors, refresh encodes ONLY those files against the
        # existing quantizers — cost tracks the append, not the corpus
        # (contrast ann_refresh_{tag} with ivf_build_{tag}+pq_build_{tag})
        from pyiceberg_lakehouse_spark.lakehouse.maintenance import (
            refresh_ann_indexes,
        )

        n_extra = max(1_000, n // 50)
        extra = mock_embeddings(spark, n + n_extra).filter(F.col("vec_id") >= n)
        b.run(f"emb_append_2pct_{tag}", lambda: t.append(extra))
        b.run(f"ann_refresh_{tag}", lambda: refresh_ann_indexes(t))
        # post-refresh probe must stay accurate vs a FRESH brute baseline
        # over the grown corpus (appended vectors are candidates now)
        brute2 = {
            (r.qid, r.vid)
            for r in similarity.cosine_topk(
                t.scan().select("vec_id", "embedding"), queries, k=TOP_K, exact=False
            ).collect()
        }
        refreshed = {
            (r.qid, r.vid)
            for r in similarity.ivf_index_topk(
                t, queries, k=TOP_K, n_probe=None
            ).collect()
        }
        b.notes[f"ivf_recall_after_refresh_{tag}"] = round(
            len(refreshed & brute2) / len(brute2), 3
        )
        shutil.rmtree(wh, ignore_errors=True)


def bench_mutations(spark, b: Bench, tmp: str) -> None:
    """Lakehouse mutation paths at 1M and 10M rows (VERDICT r5 task #4):
    z-order rewrite cost + box-scan file pruning, merge-on-read read
    degradation as delete files accumulate, and batch CDC apply."""
    from pyiceberg_lakehouse_spark.lakehouse import Lakehouse
    from pyiceberg_lakehouse_spark.lakehouse.maintenance import cluster_zorder
    from pyiceberg_lakehouse_spark.lakehouse.stats import prune_files
    from pyiceberg_lakehouse_spark.lakehouse.upsert import apply_changes

    for n in MUT_SCALES:
        tag = f"{n//1000}k"
        wh = os.path.join(tmp, f"wh_mut_{n}")
        lh = Lakehouse(spark, wh)
        mock = mock_dataset(spark, n)
        t = lh.create_table(
            f"scale.mut_{n}",
            mock.schema,
            partition_by=["group"],
            properties={"write.target-records-per-file": str(max(1, n // 64))},
        )
        t.append(mock)

        # z-order: rewrite cost ~linear in rows; a 2-d box scan afterwards
        # must prune most files REGARDLESS of scale (the flat claim).
        # Explicit file sizing: the default 512 MB target collapses these
        # corpora into ~1 range partition (4 hive files), which makes the
        # pruning evidence vacuous — size for ~48 z-range files instead.
        total_bytes = sum(
            os.path.getsize(f["path"])
            for f in t.log.live_files()
            if os.path.exists(f["path"])
        )
        b.run(
            f"zorder_rewrite_{tag}",
            lambda: cluster_zorder(
                t, ["id", "value2"], target_file_bytes=max(1 << 20, total_bytes // 48)
            ),
        )
        bounds = t.scan().agg(
            F.min("value2").alias("v_lo"), F.max("value2").alias("v_hi")
        ).collect()[0]
        v_span = float(bounds.v_hi) - float(bounds.v_lo)
        box = {
            "id": [(">=", n // 2), ("<", n // 2 + max(1, n // 100))],
            "value2": [
                (">=", float(bounds.v_lo)),
                ("<", float(bounds.v_lo) + 0.2 * v_span),
            ],
        }
        files = t.log.live_files()
        b.notes[f"zorder_files_total_{tag}"] = len(files)
        b.notes[f"zorder_files_box_{tag}"] = len(prune_files(files, box))
        b.run(
            f"zorder_box_scan_{tag}",
            lambda: drain(
                t.scan(stat_filter=box).filter(
                    (F.col("id") >= n // 2)
                    & (F.col("id") < n // 2 + max(1, n // 100))
                    & (F.col("value2") >= float(bounds.v_lo))
                    & (F.col("value2") < float(bounds.v_lo) + 0.2 * v_span)
                )
            ),
            reps=REPS,
            warmup=True,
        )

        # merge-on-read: base read, then 16 metadata-only delete commits
        # (~0.1% of keys each); the read must degrade gracefully, not
        # collapse, as the anti-join set grows
        b.run(f"mor_read_0del_{tag}", lambda: drain(t.scan()), reps=REPS, warmup=True)
        for i in range(16):
            t.delete_keys(
                mock.filter(F.col("id") % 997 == i).select("id"), ["id"]
            )
        b.run(f"mor_read_16del_{tag}", lambda: drain(t.scan()), reps=REPS, warmup=True)

        # batch CDC: ~4% upserts + ~3% deletes through apply_changes
        # (one merge-on-read commit: upsert rows + a key-delete file)
        ups = (
            mock.filter(F.col("id") % 23 == 0)
            .withColumn("value2", F.col("value2") + 1)
            .withColumn("_op", F.lit("upsert"))
        )
        dels = mock.filter(F.col("id") % 29 == 0).withColumn("_op", F.lit("delete"))
        changes = ups.unionByName(dels)
        b.run(
            f"cdc_apply_{tag}",
            lambda: apply_changes(t, changes, key_cols=["id"], op_col="_op"),
        )
        shutil.rmtree(wh, ignore_errors=True)


def bench_mock_upsert(spark, b: Bench, tmp: str) -> None:
    from pyiceberg_lakehouse_spark.lakehouse import Lakehouse
    from pyiceberg_lakehouse_spark.lakehouse.upsert import upsert_partitioned

    wh = os.path.join(tmp, "wh_mock")
    lh = Lakehouse(spark, wh)
    mock = mock_dataset(spark, MOCK_ROWS)
    t = lh.create_table("scale.mock", mock.schema, partition_by=["group"])
    b.run("mock_ingest_10m", lambda: t.append(mock))
    b.run(
        "mock_agg_10m",
        lambda: drain(
            t.scan()
            .groupBy("group")
            .agg(F.count("*").alias("n"), F.avg("value1").alias("avg_v1"))
        ),
        reps=REPS,
    )
    # 10% of ONE of four partitions vs 10% spread over all four: the
    # merge-on-read upsert writes only its batch, so the confined (4x
    # smaller) batch should cost ~4x less
    one = mock.filter((F.col("group") == "A") & (F.col("id") % 10 == 0)).withColumn(
        "value2", F.col("value2") + 1
    )
    b.run("upsert_one_partition_10m", lambda: upsert_partitioned(t, one, ["id"]))
    allp = mock.filter(F.col("id") % 10 == 1).withColumn(
        "value2", F.col("value2") + 1
    )
    b.run("upsert_all_partitions_10m", lambda: upsert_partitioned(t, allp, ["id"]))

    # partition-scoped MERGE INTO (r10): a conditional merge whose source
    # touches ONE of four partitions must cost ~the touched quarter, not
    # the table — wall ratio plus the structural files-removed fraction
    from pyiceberg_lakehouse_spark.lakehouse.upsert import (
        merge_into,
        merge_into_partitioned,
    )

    live_before = len(t.log.live_files())
    m_one = mock.filter((F.col("group") == "B") & (F.col("id") % 10 == 2)).withColumn(
        "value2", F.col("value2") + 2
    )
    snap = b.run(
        "merge_into_one_partition_10m",
        lambda: merge_into_partitioned(
            t, m_one, ["id"], matched_delete=F.col("id") % 40 == 2
        ),
    )
    b.notes["merge_partitioned_files_touched_fraction"] = round(
        1
        - sum(
            1
            for f in t.log.live_files()
            if f.get("added_in", 0) < snap.snapshot_id
        )
        / max(live_before, 1),
        4,
    )
    m_all = mock.filter(F.col("id") % 10 == 3).withColumn(
        "value2", F.col("value2") + 2
    )
    b.run(
        "merge_into_full_table_10m",
        lambda: merge_into(t, m_all, ["id"], matched_delete=F.col("id") % 40 == 3),
    )
    shutil.rmtree(wh, ignore_errors=True)


def bench_rollup(spark, b: Bench, tmp: str) -> None:
    """Continuous-aggregate economics at 10M rows: an incremental refresh
    over a 1% append must cost delta-scan + summary-merge, not a fact-table
    rescan — the claim is the incremental/full ratio, not absolute wall."""
    from pyiceberg_lakehouse_spark.lakehouse import Lakehouse
    from pyiceberg_lakehouse_spark.lakehouse.rollup import (
        create_rollup,
        refresh_rollup,
    )

    wh = os.path.join(tmp, "wh_rollup")
    lh = Lakehouse(spark, wh)
    mock = mock_dataset(spark, MOCK_ROWS)
    t = lh.create_table("scale.rufact", mock.schema)
    t.append(mock.filter(F.col("id") % 100 != 0))
    aggs = [("value2", "sum"), ("*", "count"), ("value1", "min"), ("value1", "max")]
    b.run(
        "rollup_build_10m",
        lambda: create_rollup(lh, t, "scale.rufact_ru", ["group"], aggs),
    )
    r = lh.load_table("scale.rufact_ru")
    # HLL distinct rollup at the same scale (r10): ~2.5M distinct value1
    # per group against 1024 registers — deep in raw-HLL range, so this
    # measures both the incremental economics AND the estimate accuracy
    # far beyond the small-range correction the sf tests exercise
    b.run(
        "hll_rollup_build_10m",
        lambda: create_rollup(
            lh, t, "scale.rufact_hll", ["group"], [("value1", "distinct")]
        ),
    )
    rh = lh.load_table("scale.rufact_hll")
    # exact-percentile rollup at the same scale (r10): value2's declared
    # domain is [1, 1000] (1003-slot count histogram); the claim is both
    # the incremental economics AND bit-exactness of the incrementally-
    # merged histogram's percentile vs a sort-based percentile_disc at 10M
    b.run(
        "pct_rollup_build_10m",
        lambda: create_rollup(
            lh,
            t,
            "scale.rufact_pct",
            ["group"],
            [("value2", "p50"), ("value2", "p95")],
            domains={"value2": (1, 1000)},
        ),
    )
    rp = lh.load_table("scale.rufact_pct")
    cursor = t.log.current_snapshot_id()
    t.append(mock.filter(F.col("id") % 100 == 0))  # 1% delta
    # IO-independent evidence (wall on this narrow 4-column mock is
    # overhead-dominated): rows the refresh PLANS from metadata — the
    # delta interval's file rows vs the whole table's
    delta_rows = sum(
        f.get("rows") or 0
        for s in t.log.snapshots
        if s.snapshot_id > cursor
        for f in s.added_files
    )
    total_rows = sum(f.get("rows") or 0 for f in t.log.live_files())
    b.notes["rollup_delta_rows"] = delta_rows
    b.notes["rollup_total_rows"] = total_rows
    res = b.run("rollup_refresh_1pct_10m", lambda: refresh_rollup(r, t))
    b.notes["rollup_refresh_mode"] = res["mode"]
    res = b.run("hll_rollup_refresh_1pct_10m", lambda: refresh_rollup(rh, t))
    b.notes["hll_rollup_refresh_mode"] = res["mode"]
    res = b.run("pct_rollup_refresh_1pct_10m", lambda: refresh_rollup(rp, t))
    b.notes["pct_rollup_refresh_mode"] = res["mode"]
    # accuracy at 10M: incrementally-merged registers vs exact distinct
    from pyiceberg_lakehouse_spark.lakehouse.rollup import read_rollup

    est = {x["group"]: x["distinct_value1"] for x in read_rollup(rh).collect()}
    exact = {
        x["group"]: x["n"]
        for x in t.scan()
        .groupBy("group")
        .agg(F.count_distinct("value1").alias("n"))
        .collect()
    }
    b.notes["hll_rollup_max_rel_err_10m"] = round(
        max(abs(est[g] / n - 1.0) for g, n in exact.items()), 4
    )
    # exactness at 10M: incrementally-merged histogram percentile must
    # EQUAL the sort-based percentile_disc over the final fact table
    got = {
        x["group"]: (x["p50_value2"], x["p95_value2"])
        for x in read_rollup(rp).collect()
    }
    ref = {
        x["group"]: (x["p50"], x["p95"])
        for x in t.scan()
        .groupBy("group")
        .agg(
            F.expr(
                "percentile_disc(0.5) within group (order by value2)"
            ).alias("p50"),
            F.expr(
                "percentile_disc(0.95) within group (order by value2)"
            ).alias("p95"),
        )
        .collect()
    }
    b.notes["pct_rollup_exact_10m"] = bool(got == ref)
    # force the full-recompute path at the same scale for the contrast
    t.delete_keys(mock.filter(F.col("id") % 1009 == 0).select("id"), ["id"])
    res = b.run("rollup_full_recompute_10m", lambda: refresh_rollup(r, t))
    b.notes["rollup_full_mode"] = res["mode"]
    res = b.run("hll_rollup_full_recompute_10m", lambda: refresh_rollup(rh, t))
    b.notes["hll_rollup_full_mode"] = res["mode"]
    res = b.run("pct_rollup_full_recompute_10m", lambda: refresh_rollup(rp, t))
    b.notes["pct_rollup_full_mode"] = res["mode"]
    shutil.rmtree(wh, ignore_errors=True)


def bench_dedup_index(spark, b: Bench, tmp: str) -> None:
    """Incremental exact-dedup index economics at 1M documents: refreshing
    the fingerprint index over a 1% append must fingerprint the DELTA
    files only — md5 over full text is real per-row CPU (unlike the
    narrow rollup mock), so the wall ratio is meaningful here in addition
    to the rows-planned structural claim."""
    from pyiceberg_lakehouse_spark.lakehouse import Lakehouse
    from pyiceberg_lakehouse_spark.lakehouse.rollup import (
        create_rollup,
        refresh_rollup,
    )

    wh = os.path.join(tmp, "wh_dedup_idx")
    lh = Lakehouse(spark, wh)
    n = DOC_SCALES[1]
    docs = mock_documents(spark, n)
    t = lh.create_table("scale.ddfact", docs.schema)
    t.append(docs.filter(F.col("doc_id") % 100 != 0))
    fp_dim = (
        "fingerprint",
        r"md5(trim(regexp_replace(lower(text), '\\s+', ' ')))",
    )
    tag = f"{n//1000}k"
    b.run(
        f"dedup_index_build_{tag}",
        lambda: create_rollup(
            lh, t, "scale.ddindex", [fp_dim], [("doc_id", "min"), ("*", "count")]
        ),
    )
    r = lh.load_table("scale.ddindex")
    cursor = t.log.current_snapshot_id()
    t.append(docs.filter(F.col("doc_id") % 100 == 0))  # 1% delta
    delta_rows = sum(
        f.get("rows") or 0
        for sn in t.log.snapshots
        if sn.snapshot_id > cursor
        for f in sn.added_files
    )
    total_rows = sum(f.get("rows") or 0 for f in t.log.live_files())
    b.notes["dedup_index_delta_rows"] = delta_rows
    b.notes["dedup_index_total_rows"] = total_rows
    res = b.run(f"dedup_index_refresh_1pct_{tag}", lambda: refresh_rollup(r, t))
    b.notes["dedup_index_refresh_mode"] = res["mode"]
    # force the full path at the same scale for the contrast
    t.delete_keys(docs.filter(F.col("doc_id") % 997 == 0).select("doc_id"), ["doc_id"])
    res = b.run(f"dedup_index_full_{tag}", lambda: refresh_rollup(r, t))
    b.notes["dedup_index_full_mode"] = res["mode"]
    shutil.rmtree(wh, ignore_errors=True)


def bench_neardup_index(spark, b: Bench, tmp: str) -> None:
    """Incremental near-dup (banded MinHash) index economics at 1M
    documents: refreshing over a 1% append must shingle+minhash the
    DELTA files only — the signature pass is real per-token CPU (32
    universal hashes over every shingle), so the wall ratio is the
    claim that makes continuous near-dup of a growing corpus viable."""
    from pyiceberg_lakehouse_spark.lakehouse import Lakehouse
    from pyiceberg_lakehouse_spark.lakehouse.neardup import (
        create_neardup_index,
        refresh_neardup_index,
    )

    wh = os.path.join(tmp, "wh_nd_idx")
    lh = Lakehouse(spark, wh)
    n = DOC_SCALES[1]
    docs = mock_documents(spark, n)
    t = lh.create_table("scale.ndfact", docs.schema)
    t.append(docs.filter(F.col("doc_id") % 100 != 0))
    tag = f"{n//1000}k"
    b.run(
        f"neardup_index_build_{tag}",
        lambda: create_neardup_index(lh, t, "scale.ndindex"),
    )
    idx = lh.load_table("scale.ndindex")
    cursor = t.log.current_snapshot_id()
    t.append(docs.filter(F.col("doc_id") % 100 == 0))  # 1% delta
    delta_rows = sum(
        f.get("rows") or 0
        for sn in t.log.snapshots
        if sn.snapshot_id > cursor
        for f in sn.added_files
    )
    total_rows = sum(f.get("rows") or 0 for f in t.log.live_files())
    b.notes["neardup_index_delta_rows"] = delta_rows
    b.notes["neardup_index_total_rows"] = total_rows
    res = b.run(
        f"neardup_index_refresh_1pct_{tag}", lambda: refresh_neardup_index(idx, t)
    )
    b.notes["neardup_index_refresh_mode"] = res["mode"]
    # force the full path at the same scale for the contrast
    t.delete_keys(
        docs.filter(F.col("doc_id") % 997 == 0).select("doc_id"), ["doc_id"]
    )
    res = b.run(f"neardup_index_full_{tag}", lambda: refresh_neardup_index(idx, t))
    b.notes["neardup_index_full_mode"] = res["mode"]
    shutil.rmtree(wh, ignore_errors=True)


def bench_text_index(spark, b: Bench, tmp: str) -> None:
    """Inverted-index economics at 1M documents: refreshing over a 1%
    append must tokenize the DELTA files only (token explode + two
    aggregations are real per-row CPU, so the wall ratio is meaningful),
    and a BM25 query must cost the query terms' postings, not the corpus."""
    from pyiceberg_lakehouse_spark.lakehouse import Lakehouse
    from pyiceberg_lakehouse_spark.lakehouse.text_index import (
        bm25_topk,
        create_text_index,
        refresh_text_index,
    )

    wh = os.path.join(tmp, "wh_text_idx")
    lh = Lakehouse(spark, wh)
    n = DOC_SCALES[1]
    tag = f"{n//1000}k"
    docs = mock_documents(spark, n)
    t = lh.create_table("scale.tifact", docs.schema)
    t.append(docs.filter(F.col("doc_id") % 100 != 0))
    b.run(
        f"text_index_build_{tag}",
        lambda: create_text_index(lh, t, "scale.tiindex"),
    )
    idx = lh.load_table("scale.tiindex")
    cursor = t.log.current_snapshot_id()
    t.append(docs.filter(F.col("doc_id") % 100 == 0))  # 1% delta
    b.notes["text_index_delta_rows"] = sum(
        f.get("rows") or 0
        for sn in t.log.snapshots
        if sn.snapshot_id > cursor
        for f in sn.added_files
    )
    b.notes["text_index_total_rows"] = sum(
        f.get("rows") or 0 for f in t.log.live_files()
    )
    res = b.run(
        f"text_index_refresh_1pct_{tag}", lambda: refresh_text_index(idx, t)
    )
    b.notes["text_index_refresh_mode"] = res["mode"]
    b.run(
        f"bm25_query_{tag}",
        lambda: drain(bm25_topk(idx, ["merge", "shuffle"], k=10)),
        reps=REPS,
        warmup=True,
    )
    # force the full path at the same scale for the contrast
    t.delete_where(F.col("doc_id") % 997 == 0)
    res = b.run(f"text_index_full_{tag}", lambda: refresh_text_index(idx, t))
    b.notes["text_index_full_mode"] = res["mode"]
    shutil.rmtree(wh, ignore_errors=True)


def bench_cdf(spark, b: Bench, tmp: str) -> None:
    """Change-feed economics at 1M rows: after a 1% copy-on-write delete,
    the CDF fast path (commit-time change-data files) must read the DELTA
    rows only, while the no-CDF fallback diffs both table states — the
    wall contrast and the planned-rows fraction are the 100 TB claim that
    polling a mutating table costs what CHANGED, not what exists."""
    from pyiceberg_lakehouse_spark.lakehouse import Lakehouse

    n = MUT_SCALES[0]
    tag = f"{n//1000}k"
    wh = os.path.join(tmp, "wh_cdf")
    lh = Lakehouse(spark, wh)
    mock = mock_dataset(spark, n)
    for name, props in (
        ("scale.cdf_on", {"change-data-feed": "true"}),
        ("scale.cdf_off", {}),
    ):
        t = lh.create_table(name, mock.schema, partition_by=["group"], properties=props)
        t.append(mock)
        cursor = t.log.current_snapshot_id()
        t.delete_where(F.col("id") % 100 == 0)  # 1% CoW purge
        mode = "fast" if props else "diff"
        if props:
            delta_rows = sum(
                f.get("rows") or 0
                for sn in t.log.snapshots
                if sn.snapshot_id > cursor
                for f in (sn.summary.get("change-data-files") or [])
            )
            total_rows = sum(f.get("rows") or 0 for f in t.log.live_files())
            b.notes["cdf_delta_rows"] = delta_rows
            b.notes["cdf_total_rows"] = total_rows
            assert t._plan_changes(cursor, t.log.current_snapshot_id()) is not None
        b.run(
            f"cdf_feed_{mode}_{tag}",
            lambda: drain(t.table_changes(cursor)),
            reps=REPS,
            warmup=True,
        )
    shutil.rmtree(wh, ignore_errors=True)


def bench_purge(spark, b: Bench, tmp: str) -> None:
    """Right-to-be-forgotten purge economics at 1M rows: the distributed
    match-count scan plans the rewrite, so purging a subject whose rows
    live in ONE of ~50 files rewrites only that file — the fraction is the
    100 TB claim (a purge costs what the subject TOUCHES, not the table),
    while history-wide erasure is the correctness half, pinned in
    tests/test_purge.py."""
    from pyiceberg_lakehouse_spark.lakehouse import Lakehouse
    from pyiceberg_lakehouse_spark.lakehouse.maintenance import purge_rows

    n = MUT_SCALES[0]
    tag = f"{n//1000}k"
    wh = os.path.join(tmp, "wh_purge")
    lh = Lakehouse(spark, wh)
    mock = mock_dataset(spark, n)
    t = lh.create_table(
        "scale.purge_t",
        mock.schema,
        properties={"write.target-records-per-file": str(n // 50)},
    )
    # two appends -> history with two generations of files
    t.append(mock.filter(F.col("id") % 2 == 0))
    t.append(mock.filter(F.col("id") % 2 == 1))
    total_files = len({f["path"] for s in t.log.snapshots for f in s.added_files})
    out: dict = {}

    def _run():
        out.update(purge_rows(t, F.col("id") < n // 100))  # one subject, 1% of rows
        return out["files_rewritten"]

    b.run(f"purge_1pct_{tag}", _run)
    b.notes["purge_files_rewritten"] = out["files_rewritten"]
    b.notes["purge_total_history_files"] = total_files
    b.notes["purge_rows_purged"] = out["rows_purged"]
    assert t.scan().filter(F.col("id") < n // 100).count() == 0
    shutil.rmtree(wh, ignore_errors=True)


def bench_semi_join(spark, b: Bench, tmp: str) -> None:
    """Semi-join reduction economics at 10M fact rows vs a 1%-selective
    dim: the reducer (operators/joins.py) must cut the fact rows reaching
    the join's exchange to ~the match fraction (+ ~1% bloom false
    positives at m=2^20), and the reduced join must beat the plain one on
    wall. Auto-broadcast is disabled for the REAL join only — emulating
    the regime the reducer exists for, a dim too large to broadcast — the
    reducer's own bucket-set broadcast is an explicit hint and still
    applies (that m-bounded broadcast-always property IS the design)."""
    from pyiceberg_lakehouse_spark.operators.joins import semi_join_reduce

    n = MUT_SCALES[1]
    tag = f"{n//1000000}m"
    fact = mock_dataset(spark, n).select(
        (F.col("id").cast("long") % 1_000_000).alias("k"), "value1"
    )
    dim = spark.range(10_000).select((F.col("id") * 100).alias("dk"))
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        reduced_df = semi_join_reduce(fact, dim, "k", "dk")
        b.notes["semijoin_survivor_fraction"] = round(
            reduced_df.count() / n, 4
        )
        b.run(
            f"semijoin_plain_{tag}",
            lambda: drain(fact.join(dim, fact.k == dim.dk)),
            reps=REPS,
            warmup=True,
        )
        b.run(
            f"semijoin_reduced_{tag}",
            lambda: drain(reduced_df.join(dim, reduced_df.k == dim.dk)),
            reps=REPS,
            warmup=True,
        )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    # bloom-index JOIN file pruning at 1M rows / ~50 id-ordered files: a
    # 3-key dim probe must plan only the files whose blooms might hold a
    # key — the structural fraction is the claim (IO-independent)
    from pyiceberg_lakehouse_spark.lakehouse import Lakehouse
    from pyiceberg_lakehouse_spark.lakehouse.bloom import prune_files_bloom_any

    wh = os.path.join(tmp, "wh_bloomjoin")
    lh = Lakehouse(spark, wh)
    n1 = MUT_SCALES[0]
    mock2 = mock_dataset(spark, n1)
    tb = lh.create_table(
        "scale.bloomjoin_t",
        mock2.schema,
        properties={
            "write.bloom-columns": "id",
            # ~20k distinct ids/file -> 10 bits/key (FP ~1% at k=4)
            "write.bloom-bits": str(1 << 18),
            "write.target-records-per-file": str(n1 // 50),
        },
    )
    tb.append(mock2)
    bj_files = tb.log.live_files()
    keys = [7, n1 // 2, n1 - 3]
    kept = prune_files_bloom_any(spark, bj_files, "id", keys)
    b.notes["bloom_join_files_total"] = len(bj_files)
    b.notes["bloom_join_files_kept"] = len(kept)
    shutil.rmtree(wh, ignore_errors=True)


def bench_mp4_demux(spark, b: Bench, tmp: str) -> None:
    """ISO BMFF sample-table demux (r11): a pure map stage — synthesize +
    demux per doc where the bytes live, no Exchange (plan-tested in
    tests/test_plans.py) — so 10x docs must cost ~10x wall (linear, the
    best possible for per-byte work), never superlinear."""
    from pyiceberg_lakehouse_spark.operators.multimodal import (
        demux_mp4_multitrack,
        demux_mp4_samples,
    )

    for n in DOC_SCALES:
        tag = f"{n//1000}k"
        docs = spark.range(0, n, 1, 64).withColumnRenamed("id", "doc_id")
        b.run(
            f"mp4_demux_{tag}",
            lambda d=docs: drain(demux_mp4_samples(d)),
            reps=REPS,
            warmup=True,
        )
        # r12: the multi-track face (per-trak scoping + interleaved
        # chunks + hdlr routing) is the same map-stage class and must
        # show the same ~linear growth
        b.run(
            f"mp4_multitrack_{tag}",
            lambda d=docs: drain(demux_mp4_multitrack(d)),
            reps=REPS,
            warmup=True,
        )
        # r13: the fragmented (moof/tfhd/tfdt/trun) face — same class:
        # mux + demux per doc where the bytes live, zero shuffle
        from pyiceberg_lakehouse_spark.operators.multimodal import (
            demux_mp4_fragmented_table,
        )

        b.run(
            f"mp4_fragmented_{tag}",
            lambda d=docs: drain(demux_mp4_fragmented_table(d)),
            reps=REPS,
            warmup=True,
        )


def bench_crawl(spark, b: Bench, tmp: str) -> None:
    """r13 crawl-ingest chain (WARC -> HTTP -> HTML -> curation rows):
    a pure map stage — mux + record walk + envelope parse + text
    extraction per doc where the bytes live, no Exchange (plan-tested)
    — so 10x docs must cost ~10x wall, never superlinear."""
    from pyiceberg_lakehouse_spark.registry import QUERIES, load_all

    load_all()
    # drive the registered query bodies over synthetic doc ids at scale:
    # both are (spark, sf_dir)-shaped, so feed them a view-backed dir
    from pyiceberg_lakehouse_spark.operators.queries_crawl import (
        pipeline_crawl_ingest,
        scan_warc_responses,
    )
    import pyiceberg_lakehouse_spark.operators.queries_crawl as q

    for n in DOC_SCALES:
        tag = f"{n//1000}k"
        docs = spark.range(0, n, 1, 64).withColumnRenamed("id", "doc_id")
        saved = q.load_table
        try:
            q.load_table = lambda _s, _d, _t, d=docs: d
            b.run(
                f"warc_responses_{tag}",
                lambda: drain(scan_warc_responses(spark, "unused")),
                reps=REPS,
                warmup=True,
            )
            b.run(
                f"crawl_ingest_{tag}",
                lambda: drain(pipeline_crawl_ingest(spark, "unused")),
                reps=REPS,
                warmup=True,
            )
        finally:
            q.load_table = saved


def bench_codecs(spark, b: Bench, tmp: str) -> None:
    """r14 pixel codecs (WebP VP8L roundtrip across the transform knob
    matrix; LZW TIFF with Predictor 2): pure map stages — encode +
    decode per doc where the bytes live, no Exchange (plan-tested) —
    so 10x docs must cost ~10x wall, never superlinear."""
    import pyiceberg_lakehouse_spark.operators.queries_crawl as qc
    import pyiceberg_lakehouse_spark.operators.queries_media as q
    from pyiceberg_lakehouse_spark.operators.queries_media import (
        multimodal_flac_decode,
        multimodal_tiff_lzw,
        multimodal_webp_decode,
    )
    from pyiceberg_lakehouse_spark.operators.queries_crawl import (
        text_pdf_extract,
    )

    for n in DOC_SCALES:
        tag = f"{n//1000}k"
        docs = spark.range(0, n, 1, 64).withColumnRenamed("id", "doc_id")
        saved, saved_c = q.load_table, qc.load_table
        try:
            q.load_table = lambda _s, _d, _t, d=docs: d
            qc.load_table = lambda _s, _d, _t, d=docs: d
            b.run(
                f"webp_decode_{tag}",
                lambda: drain(multimodal_webp_decode(spark, "unused")),
                reps=REPS,
                warmup=True,
            )
            b.run(
                f"tiff_lzw_{tag}",
                lambda: drain(multimodal_tiff_lzw(spark, "unused")),
                reps=REPS,
                warmup=True,
            )
            # r14 second wave: the PDF reader (both xref forms, ObjStm,
            # /Prev chains) and the FLAC bitstream with MD5 verify —
            # both pure map stages, same linear-or-better bar
            b.run(
                f"pdf_extract_{tag}",
                lambda: drain(text_pdf_extract(spark, "unused")),
                reps=REPS,
                warmup=True,
            )
            b.run(
                f"flac_decode_{tag}",
                lambda: drain(multimodal_flac_decode(spark, "unused")),
                reps=REPS,
                warmup=True,
            )
        finally:
            q.load_table, qc.load_table = saved, saved_c


def bench_extraction(spark, b: Bench, tmp: str) -> None:
    """r14 document-extraction layers (EPUB/DOCX/RTF readers, Matroska
    EBML probe) + the r15 lossy-WebP VP8 decode: all pure map stages
    (encode-fixture + parse per doc where the bytes live, no Exchange),
    so 10x docs must cost ~10x wall, never superlinear."""
    import pyiceberg_lakehouse_spark.operators.queries_crawl as qc
    import pyiceberg_lakehouse_spark.operators.queries_media as qm
    from pyiceberg_lakehouse_spark.operators.queries_crawl import (
        text_docx_extract,
        text_epub_extract,
        text_rtf_extract,
    )
    from pyiceberg_lakehouse_spark.operators.queries_media import (
        multimodal_mkv_probe,
        multimodal_webp_lossy_decode,
    )

    for n in DOC_SCALES:
        tag = f"{n//1000}k"
        docs = spark.range(0, n, 1, 64).withColumnRenamed("id", "doc_id")
        saved_m, saved_c = qm.load_table, qc.load_table
        try:
            qm.load_table = lambda _s, _d, _t, d=docs: d
            qc.load_table = lambda _s, _d, _t, d=docs: d
            for name, fn in (
                ("epub_extract", text_epub_extract),
                ("docx_extract", text_docx_extract),
                ("rtf_extract", text_rtf_extract),
                ("mkv_probe", multimodal_mkv_probe),
                ("webp_lossy", multimodal_webp_lossy_decode),
            ):
                b.run(
                    f"{name}_{tag}",
                    lambda f=fn: drain(f(spark, "unused")),
                    reps=REPS,
                    warmup=True,
                )
        finally:
            qm.load_table, qc.load_table = saved_m, saved_c


def bench_r16_media(spark, b: Bench, tmp: str) -> None:
    """r16 surface: the Avro container source (all six codecs cycling),
    the MP3 Layer-III and Vorbis sample decodes — map-only stages, so
    10x docs must cost ~10x wall, never superlinear — plus the Iceberg
    METADATA WALK (iceberg_live_files) at 10x snapshots/manifest
    entries: the interop resolution is driver-side, so the claim to
    prove is that it stays linear in METADATA size (it never touches
    data files)."""
    import pyiceberg_lakehouse_spark.operators.queries_crawl as qc
    import pyiceberg_lakehouse_spark.operators.queries_media as qm
    from pyiceberg_lakehouse_spark.lakehouse import iceberg_interop as I
    from pyiceberg_lakehouse_spark.operators.queries_crawl import (
        scan_avro_roundtrip,
    )
    from pyiceberg_lakehouse_spark.operators.queries_media import (
        multimodal_mp3_samples,
        multimodal_ogg_samples,
    )

    for n in DOC_SCALES:
        tag = f"{n//1000}k"
        docs = spark.range(0, n, 1, 64).withColumnRenamed("id", "doc_id")
        saved_m, saved_c = qm.load_table, qc.load_table
        try:
            qm.load_table = lambda _s, _d, _t, d=docs: d
            qc.load_table = lambda _s, _d, _t, d=docs: d
            for name, fn in (
                ("avro_roundtrip", scan_avro_roundtrip),
                ("mp3_samples", multimodal_mp3_samples),
                ("ogg_samples", multimodal_ogg_samples),
            ):
                b.run(
                    f"{name}_{tag}",
                    lambda f=fn: drain(f(spark, "unused")),
                    reps=REPS,
                    warmup=True,
                )
        finally:
            qm.load_table, qc.load_table = saved_m, saved_c

    # metadata walk: one file appended per snapshot, so the FINAL
    # snapshot's manifest carries n entries; sizes are passed so no
    # data file ever exists — resolution is metadata-only by design
    for n in (int(50 * SCALE) or 50, int(500 * SCALE) or 500):
        td = os.path.join(tmp, f"icewalk_{n}")
        snaps = [
            {"files": [{"path": os.path.join(td, f"f{i}.parquet"),
                        "records": 100, "size": 4096}]}
            for i in range(n)
        ]
        mp = I.write_iceberg_metadata(
            td, snaps,
            schema_fields=[{"id": 1, "name": "id", "required": False,
                            "type": "long"}],
        )
        got = b.run(
            f"iceberg_walk_{n}snaps",
            lambda mp=mp: I.iceberg_live_files(mp),
            reps=max(REPS, 3),
            warmup=True,
        )
        b.notes[f"iceberg_walk_{n}snaps_live_files"] = len(got["files"])


def bench_r17_media(spark, b, tmp):
    """r17 arms: the STEREO two-blocksize Vorbis decode (map-only, so
    10x docs must cost ~10x wall) and Iceberg metadata-time STATS
    PRUNING at 10x manifest entries — planning is metadata-only
    (bounds live in the manifests; no data file is ever opened), so
    the claim to prove is that plan cost stays linear in METADATA size
    while the kept-file count stays tiny (the touch-2-files-not-2000
    move a 100 TB table depends on)."""
    import pyiceberg_lakehouse_spark.operators.queries_media as qm
    from pyiceberg_lakehouse_spark.lakehouse import iceberg_interop as I
    from pyiceberg_lakehouse_spark.lakehouse.iceberg_transforms import (
        serialize_single_value,
    )
    from pyiceberg_lakehouse_spark.operators.queries_media import (
        multimodal_ogg_stereo,
    )

    for n in DOC_SCALES:
        tag = f"{n//1000}k"
        docs = spark.range(0, n, 1, 64).withColumnRenamed("id", "doc_id")
        saved_m = qm.load_table
        try:
            qm.load_table = lambda _s, _d, _t, d=docs: d
            b.run(
                f"ogg_stereo_{tag}",
                lambda: drain(multimodal_ogg_stereo(spark, "unused")),
                reps=REPS,
                warmup=True,
            )
        finally:
            qm.load_table = saved_m

    # stats-pruning plan cost at 10x manifest entries: n range files
    # with exact custkey bounds, predicate keeping ~2 files either way
    for n in (int(100 * SCALE) or 100, int(1000 * SCALE) or 1000):
        td = os.path.join(tmp, f"icestats_{n}")
        width = 1000
        snaps = [{"files": [
            {"path": os.path.join(td, f"f{i}.parquet"),
             "records": width, "size": 4096,
             "lower_bounds": {1: serialize_single_value(
                 i * width, "long")},
             "upper_bounds": {1: serialize_single_value(
                 (i + 1) * width - 1, "long")}}
            for i in range(n)
        ]}]
        mp = I.write_iceberg_metadata(
            td, snaps,
            schema_fields=[{"id": 1, "name": "id", "required": False,
                            "type": "long"}],
        )
        got = b.run(
            f"iceberg_stats_plan_{n}files",
            lambda mp=mp: I.plan_iceberg_scan(
                mp, predicates=[("id", "<=", int(1.5 * width))]
            ),
            reps=max(REPS, 3),
            warmup=True,
        )
        b.notes[f"iceberg_stats_plan_{n}files_kept"] = len(got["files"])
        b.notes[f"iceberg_stats_plan_{n}files_pruned"] = got["n_pruned"]


def bench_r18_mor_delete(spark, b, tmp):
    """r18 (VERDICT r17 task #4): MoR delete application ABOVE the
    broadcast threshold. Below BROADCAST_DELETE_ROWS the delete side
    is hint-broadcast; above it the anti-join takes Spark's shuffle
    strategy. Arms time BOTH strategies over the same fixture (the
    threshold is module-level precisely so this bench can flip it)
    and grow the delete set 10x on the shuffle path — the claim is
    sub-superlinear growth (the shuffle is linear in delete rows) and
    a bounded broadcast->shuffle penalty at the crossover scale."""
    from pyiceberg_lakehouse_spark.lakehouse import iceberg_interop as I

    n_data = int(2_000_000 * SCALE) or 2_000_000
    td = os.path.join(tmp, "mor_delete_large")
    d_dir = os.path.join(td, "data")
    (
        spark.range(0, n_data, 1, 8)
        .withColumn("v", F.col("id") * 2)
        .write.parquet(d_dir)
    )
    import glob as _glob

    data_files = sorted(_glob.glob(os.path.join(d_dir, "*.parquet")))
    fields = [
        {"id": 1, "name": "id", "required": False, "type": "long"},
        {"id": 2, "name": "v", "required": False, "type": "long"},
    ]
    # per-file URIs for the position-delete rows: observe the real
    # mapping once (row_index is per file, so deletes spread evenly)
    probe = (
        spark.read.parquet(*data_files)
        .select(
            F.col("_metadata.file_path").alias("u"),
            F.col("_metadata.row_index").alias("pos"),
        )
        .groupBy("u").agg(F.max("pos").alias("mx"))
        .collect()
    )
    del_scales = [int(100_000 * SCALE) or 100_000,
                  int(1_000_000 * SCALE) or 1_000_000]
    mps = {}
    for nd in del_scales:
        per_file = max(nd // len(probe), 1)
        dd = os.path.join(td, f"del_{nd}")
        dels = None
        for r in probe:
            step = max(int(r["mx"] + 1) // per_file, 1)
            one = (
                spark.range(0, per_file)
                .select(
                    F.lit(r["u"]).alias("file_path"),
                    (F.col("id") * step).cast("long").alias("pos"),
                )
                .filter(F.col("pos") <= r["mx"])
            )
            dels = one if dels is None else dels.unionByName(one)
        dels.coalesce(4).write.parquet(dd)
        del_files = sorted(_glob.glob(os.path.join(dd, "*.parquet")))
        import pyarrow.parquet as _pq

        mps[nd] = I.write_iceberg_metadata(
            os.path.join(td, f"tab_{nd}"),
            snapshots=[
                {"files": [
                    {"path": pth,
                     "records": _pq.ParquetFile(pth).metadata.num_rows}
                    for pth in data_files
                ]},
                {"files": [],
                 "pos_deletes": [
                     {"path": pth,
                      "records": _pq.ParquetFile(pth).metadata.num_rows}
                     for pth in del_files
                 ]},
            ],
            schema_fields=fields,
        )

    nd0 = del_scales[0]
    saved = I.BROADCAST_DELETE_ROWS
    try:
        I.BROADCAST_DELETE_ROWS = 10 ** 12  # force broadcast arm
        got = b.run(
            f"mor_delete_broadcast_{nd0 // 1000}k",
            lambda: drain(I.read_iceberg_table(spark, mps[nd0])),
            reps=REPS, warmup=True,
        )
        I.BROADCAST_DELETE_ROWS = 0  # force shuffle arm
        for nd in del_scales:
            b.run(
                f"mor_delete_shuffle_{nd // 1000}k",
                lambda nd=nd: drain(
                    I.read_iceberg_table(spark, mps[nd])
                ),
                reps=REPS, warmup=True,
            )
        # correctness: both strategies agree on the survivor count
        I.BROADCAST_DELETE_ROWS = saved
        n_bcast = I.read_iceberg_table(spark, mps[nd0]).count()
        I.BROADCAST_DELETE_ROWS = 0
        n_shuf = I.read_iceberg_table(spark, mps[nd0]).count()
        b.notes["mor_delete_strategies_agree"] = bool(n_bcast == n_shuf)
        b.notes["mor_delete_survivors"] = int(n_shuf)
        b.notes["mor_delete_data_rows"] = int(n_data)
    finally:
        I.BROADCAST_DELETE_ROWS = saved
    del got

    # iceberg EXPORT growth in FILE COUNT (the metadata-scale claim:
    # export cost follows the file census, not data size — footer
    # stats collect distributed above 64 files)
    from pyiceberg_lakehouse_spark.lakehouse import Lakehouse
    from pyiceberg_lakehouse_spark.lakehouse.iceberg_export import (
        export_iceberg_table,
    )

    wh = os.path.join(tmp, "exp_wh")
    lh = Lakehouse(spark, wh)
    for n_files in (int(100 * SCALE) or 100, int(1000 * SCALE) or 1000):
        t = lh.create_table(
            f"ns.exp_growth_{n_files}",
            spark.range(1).selectExpr("id as k", "id as v").schema,
        )
        # guaranteed file census: write n_files parquet parts, then
        # register metadata-only (add_files) — the append path may
        # legally coalesce
        raw = os.path.join(tmp, f"exp_raw_{n_files}")
        (
            spark.range(0, n_files * 100)
            .selectExpr("id as k", "id % 7 as v")
            .repartition(n_files)
            .write.mode("overwrite").parquet(raw)
        )
        parts = sorted(_glob.glob(os.path.join(raw, "*.parquet")))
        assert len(parts) == n_files, (len(parts), n_files)
        t.add_files(parts)
        got2 = b.run(
            f"iceberg_export_{n_files}files",
            lambda t=t: export_iceberg_table(t),
            reps=max(REPS, 2),
            warmup=False,
        )
        plan = I.plan_iceberg_scan(
            got2, predicates=[("k", ">", 10 ** 12)]
        )
        b.notes[f"iceberg_export_{n_files}files_pruned"] = \
            plan["n_pruned"]


SECTIONS = {
    "documents": bench_documents,
    "embeddings": bench_embeddings,
    "mutations": bench_mutations,
    "upsert": bench_mock_upsert,
    "rollup": bench_rollup,
    "dedup_index": bench_dedup_index,
    "text_index": bench_text_index,
    "neardup_index": bench_neardup_index,
    "cdf": bench_cdf,
    "semi_join": bench_semi_join,
    "purge": bench_purge,
    "mp4_demux": bench_mp4_demux,
    "crawl": bench_crawl,
    "codecs": bench_codecs,
    "extraction": bench_extraction,
    "r16_media": bench_r16_media,
    "r17": bench_r17_media,
    "r18_mor": bench_r18_mor_delete,
}


def main() -> None:
    wanted = [a for a in sys.argv[1:] if not a.startswith("-")]
    unknown = [a for a in wanted if a not in SECTIONS]
    if unknown:
        raise SystemExit(f"unknown sections {unknown}; choose from {list(SECTIONS)}")
    run_sections = wanted or list(SECTIONS)

    spark = get_spark("bench_scale")
    spark.sparkContext.setLogLevel("ERROR")
    b = Bench()
    # partial run: start from the previous results so untouched sections
    # keep their data and the claims block recomputes over the full set
    if wanted and os.path.exists(OUT):
        with open(OUT) as fh:
            prev = json.load(fh)
        b.phases.update(prev.get("phases", {}))
        b.samples.update(prev.get("samples", {}))
        b.notes.update(prev.get("notes", {}))

    t0 = time.time()
    spark.range(0, 50_000_000, 1, 32).select(
        F.count(F.when(F.xxhash64("id") % 7 == 0, 1)).alias("h")
    ).collect()  # warmup
    t0 = time.time()
    spark.range(0, 50_000_000, 1, 32).select(
        F.count(F.when(F.xxhash64("id") % 7 == 0, 1)).alias("h")
    ).collect()
    calib = round(time.time() - t0, 3)

    tmp = tempfile.mkdtemp(prefix="bench_scale_")
    try:
        for name in SECTIONS:
            if name in run_sections:
                SECTIONS[name](spark, b, tmp)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)

    def ratio(a: str, z: str) -> float | None:
        if b.phases.get(a) and b.phases.get(z):
            return round(b.phases[z] / b.phases[a], 2)
        return None

    t1, t2 = f"{DOC_SCALES[0]//1000}k", f"{DOC_SCALES[1]//1000}k"
    v1, v2 = f"{VEC_SCALES[0]//1000}k", f"{VEC_SCALES[1]//1000}k"
    claims = {
        # corpus grew 10x; flat probe => ~1, linear brute => ~10
        "brute_growth_10x": ratio(f"brute_topk_{v1}", f"brute_topk_{v2}"),
        "mor_delete_shuffle_growth_10x": ratio(
            f"mor_delete_shuffle_{(int(100_000 * SCALE) or 100_000) // 1000}k",
            f"mor_delete_shuffle_{(int(1_000_000 * SCALE) or 1_000_000) // 1000}k",
        ),
        "iceberg_export_growth_10x_files": ratio(
            f"iceberg_export_{int(100 * SCALE) or 100}files",
            f"iceberg_export_{int(1000 * SCALE) or 1000}files",
        ),
        "ivf_probe_growth_10x": ratio(f"ivf_probe_{v1}", f"ivf_probe_{v2}"),
        "ivfpq_probe_growth_10x": ratio(f"ivfpq_probe_{v1}", f"ivfpq_probe_{v2}"),
        "minhash_growth_10x": ratio(f"minhash_ckpt_{t1}", f"minhash_ckpt_{t2}"),
        # MP4 demux (r11): shuffle-free map stage => wall tracks bytes
        # linearly; ~10 on 10x docs is the expected (and best) shape
        "mp4_demux_growth_10x": ratio(f"mp4_demux_{t1}", f"mp4_demux_{t2}"),
        "mp4_multitrack_growth_10x": ratio(
            f"mp4_multitrack_{t1}", f"mp4_multitrack_{t2}"
        ),
        "clean_corpus_growth_10x": ratio(f"clean_corpus_{t1}", f"clean_corpus_{t2}"),
        # decontamination must stay ~linear in the train corpus (broadcast
        # shingle join, no self-join): 10x docs => ~10x wall, not pair-count
        "decontam_growth_10x": ratio(f"decontam_{t1}", f"decontam_{t2}"),
        "minhash_ckpt_vs_nockpt_small": ratio(
            f"minhash_ckpt_{t1}", f"minhash_nockpt_{t1}"
        ),
        "minhash_ckpt_vs_nockpt_large": ratio(
            f"minhash_ckpt_{t2}", f"minhash_nockpt_{t2}"
        ),
        "upsert_all_vs_one_partition": ratio(
            "upsert_one_partition_10m", "upsert_all_partitions_10m"
        ),
        # continuous-aggregate economics: a 1% append's incremental refresh
        # vs a full recompute at the same 10M-row scale (the point of the
        # snapshot-diff cursor; modes recorded in notes). Wall on the
        # narrow 4-column mock is overhead-dominated, so the structural
        # claim is rows PLANNED: delta/total, which scales with fact width
        # and corpus size where wall would.
        "rollup_incremental_vs_full_10m": ratio(
            "rollup_refresh_1pct_10m", "rollup_full_recompute_10m"
        ),
        # HLL distinct rollup (r10): incremental refresh vs full recompute
        # at 10M, plus estimate accuracy at ~2.5M distinct per group — raw
        # HLL range, 1024 registers => ~3.25% sigma; bar 0.15 (~4.6 sigma)
        "hll_rollup_incremental_vs_full_10m": ratio(
            "hll_rollup_refresh_1pct_10m", "hll_rollup_full_recompute_10m"
        ),
        "hll_rollup_max_rel_err_10m": b.notes.get("hll_rollup_max_rel_err_10m"),
        "hll_rollup_accuracy_ok": (
            (b.notes.get("hll_rollup_max_rel_err_10m") or 1.0) <= 0.15
        ),
        # exact-percentile rollup (r10): incremental economics + the
        # incrementally-merged histogram's percentile must EQUAL the
        # sort-based percentile_disc at 10M — exact, not within-error
        "pct_rollup_incremental_vs_full_10m": ratio(
            "pct_rollup_refresh_1pct_10m", "pct_rollup_full_recompute_10m"
        ),
        "pct_rollup_exact_ok": b.notes.get("pct_rollup_exact_10m"),
        # substring-span coverage (r10): 10x docs => ~10x tokens; the
        # kgram groupBy + per-doc window must track that ~linearly
        "substring_spans_growth_10x": ratio(
            f"substring_spans_{t1}", f"substring_spans_{t2}"
        ),
        # BPE learning (r10): iteration cost is vocabulary-bound, so 10x
        # docs must grow total learn wall well under 10x (the word-freq
        # pass is the only corpus-sized stage)
        "bpe_learn_growth_10x": ratio(f"bpe_learn_{t1}", f"bpe_learn_{t2}"),
        # partition-scoped MERGE INTO (r10): a one-partition source must
        # merge cheaper than the full-table merge at the same batch size,
        # and must physically replace only that partition's files
        "merge_partitioned_vs_full_10m": ratio(
            "merge_into_one_partition_10m", "merge_into_full_table_10m"
        ),
        "merge_partitioned_files_touched_fraction": b.notes.get(
            "merge_partitioned_files_touched_fraction"
        ),
        "merge_partitioned_scope_ok": (
            (b.notes.get("merge_partitioned_files_touched_fraction") or 1.0)
            <= 0.5
        ),
        "rollup_planned_rows_fraction": (
            round(b.notes["rollup_delta_rows"] / b.notes["rollup_total_rows"], 4)
            if b.notes.get("rollup_total_rows")
            else None
        ),
        # incremental exact-dedup index: refresh over a 1% append vs full
        # re-fingerprint at 1M docs — md5-over-text is the dominant cost,
        # so BOTH the wall ratio and the planned-rows fraction must show
        # the corpus is not re-read (r9 lh_dedup_incremental at scale)
        "dedup_index_incremental_vs_full_1m": ratio(
            f"dedup_index_refresh_1pct_{t2}", f"dedup_index_full_{t2}"
        ),
        # inverted text index (r10): refresh over a 1% append tokenizes
        # delta files only — wall ratio + planned-rows fraction
        "text_index_incremental_vs_full_1m": ratio(
            f"text_index_refresh_1pct_{t2}", f"text_index_full_{t2}"
        ),
        "text_index_planned_rows_fraction": (
            round(
                b.notes["text_index_delta_rows"]
                / b.notes["text_index_total_rows"],
                4,
            )
            if b.notes.get("text_index_total_rows")
            else None
        ),
        # incremental near-dup index (r11): a 1% append's refresh
        # re-signatures delta files only — wall ratio + planned fraction
        "neardup_index_incremental_vs_full_1m": ratio(
            f"neardup_index_refresh_1pct_{t2}", f"neardup_index_full_{t2}"
        ),
        "neardup_index_planned_rows_fraction": (
            round(
                b.notes["neardup_index_delta_rows"]
                / b.notes["neardup_index_total_rows"],
                4,
            )
            if b.notes.get("neardup_index_total_rows")
            else None
        ),
        "dedup_index_planned_rows_fraction": (
            round(
                b.notes["dedup_index_delta_rows"]
                / b.notes["dedup_index_total_rows"],
                4,
            )
            if b.notes.get("dedup_index_total_rows")
            else None
        ),
        # change feed over a 1% CoW delete: the CDF fast path reads delta
        # rows only (fraction ~0.01 of the table) and must beat the
        # state-diff fallback on wall time at the same scale
        "cdf_feed_fast_vs_diff_1m": ratio(
            f"cdf_feed_diff_{MUT_SCALES[0]//1000}k",
            f"cdf_feed_fast_{MUT_SCALES[0]//1000}k",
        ),
        "cdf_planned_rows_fraction": (
            round(b.notes["cdf_delta_rows"] / b.notes["cdf_total_rows"], 4)
            if b.notes.get("cdf_total_rows")
            else None
        ),
        # semi-join reduction (r10): fraction of the 10M-row fact that
        # survives to the join's exchange (~match rate + ~1% bloom FP at
        # m=2^20) and the wall ratio of the reduced join vs the plain one
        # in the no-broadcast regime the reducer exists for
        "semijoin_shuffled_rows_fraction": b.notes.get(
            "semijoin_survivor_fraction"
        ),
        "semijoin_reduced_vs_plain_10m": ratio(
            f"semijoin_plain_{MUT_SCALES[1]//1000000}m",
            f"semijoin_reduced_{MUT_SCALES[1]//1000000}m",
        ),
        # bloom-join file pruning: fraction of a 1M-row/50-file table's
        # files PLANNED for a 3-key dim probe (id-typed blooms; min/max
        # also prune here since the layout is id-ordered — the bloom claim
        # is the one that survives any layout)
        "bloom_join_files_planned_fraction": (
            round(
                b.notes["bloom_join_files_kept"]
                / b.notes["bloom_join_files_total"],
                4,
            )
            if b.notes.get("bloom_join_files_total")
            else None
        ),
        # purge (r10): rewrite cost proportional to the files the subject
        # TOUCHES (here its rows live in ~2 of ~100 history files), never
        # the table
        "purge_files_rewritten_fraction": (
            round(
                b.notes["purge_files_rewritten"]
                / b.notes["purge_total_history_files"],
                4,
            )
            if b.notes.get("purge_total_history_files")
            else None
        ),
        # recall governance: auto n_probe must hold recall >= 0.9 on the
        # 10x corpus while probe wall-time stays <= 1.5x its small-scale
        # value (VERDICT r5 task #2)
        "ivf_probe_auto_growth_10x": ratio(
            f"ivf_probe_auto_{v1}", f"ivf_probe_auto_{v2}"
        ),
        "ivf_recall_auto_large": b.notes.get(f"ivf_recall_auto_{v2}"),
        "ivf_recall_auto_floor_ok": (
            (b.notes.get(f"ivf_recall_auto_{v2}") or 0.0) >= 0.9
        ),
        # probe-cost trajectory gate (VERDICT r6 task #6): rows scored by
        # the GOVERNED probe may grow at most ~sqrt(10) per 10x corpus
        # (sqrt-N cells x recall-targeted width; 3.5 allows ceil slack).
        # The r6 fixed-fraction policy measured ~10x here — this claim is
        # what keeps the linear trajectory from silently returning.
        "ivf_probed_rows_growth_10x": (
            round(
                b.notes[f"ivf_probed_rows_{v2}"] / b.notes[f"ivf_probed_rows_{v1}"],
                2,
            )
            if b.notes.get(f"ivf_probed_rows_{v1}")
            and b.notes.get(f"ivf_probed_rows_{v2}")
            else None
        ),
        "ivf_probed_rows_growth_ok": (
            (
                b.notes[f"ivf_probed_rows_{v2}"] / b.notes[f"ivf_probed_rows_{v1}"]
                <= 3.5
            )
            if b.notes.get(f"ivf_probed_rows_{v1}")
            and b.notes.get(f"ivf_probed_rows_{v2}")
            else None
        ),
        # build-cost trajectory (VERDICT r7 task #3): both ANN builds are
        # one clustered rewrite (O(N) shuffle+write, file count ~sqrt(N))
        # plus sublinear training — the honest asymptotic envelope is
        # therefore ~LINEAR (10x per 10x); the gate exists to catch the
        # catastrophic classes (unblocked pairwise ~N^2 => ~100x growth,
        # per-row-Python fallbacks). The former 6.0 bar asserted a
        # SUBLINEARITY the O(N) rewrite never promised: it held while the
        # 10M endpoint was overhead-amortized, then the r10 four-run
        # same-code study (BENCH_ADJUDICATION.md) measured the growth
        # RATIO swinging 3.6x-8.4x on identical code and a single-sample
        # wall. Bar is now 12.0 over reps=3 MEDIANS: linear growth passes,
        # anything superlinear still fails loudly.
        "ivf_build_growth_10x": ratio(f"ivf_build_{v1}", f"ivf_build_{v2}"),
        "pq_build_growth_10x": ratio(f"pq_build_{v1}", f"pq_build_{v2}"),
        "ann_build_growth_ok": (
            (b.phases.get(f"ivf_build_{v2}", 0) or 0)
            <= 12.0 * (b.phases.get(f"ivf_build_{v1}") or float("inf"))
            and (b.phases.get(f"pq_build_{v2}", 0) or 0)
            <= 12.0 * (b.phases.get(f"pq_build_{v1}") or float("inf"))
        ),
        # incremental refresh: cost of indexing a 2% append vs the full
        # rebuilds at the same scale (VERDICT r5 task #3)
        "ann_refresh_vs_ivf_build_large": ratio(
            f"ivf_build_{v2}", f"ann_refresh_{v2}"
        ),
        "ann_refresh_vs_pq_build_large": ratio(
            f"pq_build_{v2}", f"ann_refresh_{v2}"
        ),
        # lakehouse mutations at 10x (VERDICT r5 task #4): rewrite ~linear,
        # box scan ~flat (file pruning), MoR read degrades gracefully
        "zorder_rewrite_growth_10x": ratio(
            f"zorder_rewrite_{v1}", f"zorder_rewrite_{v2}"
        ),
        "zorder_box_scan_growth_10x": ratio(
            f"zorder_box_scan_{v1}", f"zorder_box_scan_{v2}"
        ),
        "mor_read_16del_overhead_large": ratio(
            f"mor_read_0del_{v2}", f"mor_read_16del_{v2}"
        ),
        "cdc_apply_growth_10x": ratio(f"cdc_apply_{v1}", f"cdc_apply_{v2}"),
        # r14 pixel codecs: shuffle-free map stages => ~10 on 10x docs
        # (linear is the best possible shape for per-byte codec work)
        "webp_decode_growth_10x": ratio(
            f"webp_decode_{t1}", f"webp_decode_{t2}"
        ),
        "tiff_lzw_growth_10x": ratio(f"tiff_lzw_{t1}", f"tiff_lzw_{t2}"),
        "pdf_extract_growth_10x": ratio(
            f"pdf_extract_{t1}", f"pdf_extract_{t2}"
        ),
        "flac_decode_growth_10x": ratio(
            f"flac_decode_{t1}", f"flac_decode_{t2}"
        ),
        # r15: the extraction readers + VP8 — same map-only linear bar
        "epub_extract_growth_10x": ratio(
            f"epub_extract_{t1}", f"epub_extract_{t2}"
        ),
        "docx_extract_growth_10x": ratio(
            f"docx_extract_{t1}", f"docx_extract_{t2}"
        ),
        "rtf_extract_growth_10x": ratio(
            f"rtf_extract_{t1}", f"rtf_extract_{t2}"
        ),
        "mkv_probe_growth_10x": ratio(f"mkv_probe_{t1}", f"mkv_probe_{t2}"),
        "webp_lossy_growth_10x": ratio(
            f"webp_lossy_{t1}", f"webp_lossy_{t2}"
        ),
        # r16: the Avro source (six codecs cycling), the MP3/Vorbis
        # sample decodes — map-only, linear bar — and the Iceberg
        # metadata walk, which must stay linear in manifest ENTRIES
        # (10x snapshots/files => ~10x walk, data files never opened)
        "avro_roundtrip_growth_10x": ratio(
            f"avro_roundtrip_{t1}", f"avro_roundtrip_{t2}"
        ),
        "mp3_samples_growth_10x": ratio(
            f"mp3_samples_{t1}", f"mp3_samples_{t2}"
        ),
        "ogg_samples_growth_10x": ratio(
            f"ogg_samples_{t1}", f"ogg_samples_{t2}"
        ),
        "iceberg_walk_growth_10x": ratio(
            f"iceberg_walk_{int(50 * SCALE) or 50}snaps",
            f"iceberg_walk_{int(500 * SCALE) or 500}snaps",
        ),
        # r17: stereo Vorbis decode (map-only, linear bar) and the
        # stats-pruning PLAN at 10x manifest entries (metadata-linear;
        # kept files stay ~2 at both scales, recorded in notes)
        "ogg_stereo_growth_10x": ratio(
            f"ogg_stereo_{t1}", f"ogg_stereo_{t2}"
        ),
        "iceberg_stats_plan_growth_10x": ratio(
            f"iceberg_stats_plan_{int(100 * SCALE) or 100}files",
            f"iceberg_stats_plan_{int(1000 * SCALE) or 1000}files",
        ),
    }
    out = {
        "scale": SCALE,
        "doc_rows": DOC_SCALES,
        "vec_rows": VEC_SCALES,
        "mock_rows": MOCK_ROWS,
        "reps_cheap_phases": REPS,
        "calib_cpu_sec": calib,
        "phases": b.phases,
        "samples": b.samples,
        "notes": b.notes,
        "claims": claims,
    }
    with open(OUT, "w") as f:
        json.dump(out, f, indent=1)
    print(json.dumps({"wrote": OUT, "claims": claims}))
    # recall floor is a hard gate (data above is already persisted)
    if not claims["ivf_recall_auto_floor_ok"]:
        raise SystemExit(
            f"ANN recall floor violated: recall@{TOP_K} "
            f"{claims['ivf_recall_auto_large']} < 0.9 at {VEC_SCALES[1]} vectors"
        )
    # probe-cost trajectory is a hard gate too: a policy change that makes
    # governed probed-rows grow super-sqrt again must fail the harness
    if claims["ivf_probed_rows_growth_ok"] is False:
        raise SystemExit(
            "ANN probe-cost trajectory violated: governed probed rows grew "
            f"{claims['ivf_probed_rows_growth_10x']}x on 10x corpus (> 3.5, "
            "the ~sqrt(10) bound)"
        )
    # build-cost trajectory is a hard gate (VERDICT r7 task #3): a change
    # that makes either ANN build grow SUPERLINEARLY per 10x must fail
    if claims["ann_build_growth_ok"] is False:
        raise SystemExit(
            "ANN build-cost trajectory violated: ivf_build grew "
            f"{claims['ivf_build_growth_10x']}x / pq_build "
            f"{claims['pq_build_growth_10x']}x on 10x corpus (> 12.0, "
            "the superlinear-blowup gate)"
        )


if __name__ == "__main__":
    main()
