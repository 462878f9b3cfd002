"""The four workloads: an untimed preparation, one timed pass through the
product's public entry points, the same pass with every layer traced, and
the output checks.

A pass is a fixed unit of work, so passes of one run are comparable: the
whole input table for the batch workloads, a fixed sequence of micro-batches
against a freshly copied seeded index for ``stream_fused``.
"""

from __future__ import annotations

import os
import shutil
import time
from contextlib import nullcontext
from dataclasses import dataclass, field

import numpy as np
import pyarrow.dataset as pads

import gen

#: substring pass length for transcripts_dense (characters)
SUBSTRING_MIN_LEN = 64
#: transcripts_dense bucket size above which pairing switches to anchors.
#: Lowered from the default 512 so the boilerplate family fills the
#: hot-anchor tier at ~25 members: a 513-member family would send ~131k
#: pairs through the substring pass's per-pair suffix-array verify.
PAIR_CAP = 16
ANN_K = 5


@dataclass
class PassResult:
    """One pass: its input rows, the latency of each unit (one entry for a
    batch workload, one per micro-batch for streaming) and the check
    verdict."""

    rows: int
    unit_s: list[float] = field(default_factory=list)
    errors: list[str] = field(default_factory=list)
    recall: float | None = None
    precision: float | None = None
    layers: dict = field(default_factory=dict)


# ---------------------------------------------------------------------------
# quality arithmetic
# ---------------------------------------------------------------------------
def _pairs(counts: np.ndarray) -> int:
    c = counts.astype(np.int64)
    return int((c * (c - 1) // 2).sum())


def pair_quality(truth_fam: np.ndarray, cluster: np.ndarray) -> tuple[float, float]:
    """(recall, precision) over item pairs.  True pairs are pairs of rows of
    one generator family (singletons, family -1, pair with nothing);
    predicted pairs are pairs of rows sharing a cluster id."""
    fam = np.where(truth_fam < 0, -1 - np.arange(truth_fam.size), truth_fam)
    _, fam_inv = np.unique(fam, return_inverse=True)
    _, cl_inv = np.unique(cluster, return_inverse=True)
    true_pairs = _pairs(np.bincount(fam_inv))
    pred_pairs = _pairs(np.bincount(cl_inv))
    joint = fam_inv.astype(np.int64) * (cl_inv.max() + 1) + cl_inv
    _, both = np.unique(joint, return_counts=True)
    hit = _pairs(both)
    return (hit / true_pairs if true_pairs else 1.0, hit / pred_pairs if pred_pairs else 1.0)


def _check_labels(ids_in, ids_out, what: str) -> list[str]:
    """Every input id labelled exactly once, and nothing else labelled."""
    errs = []
    uniq, cnt = np.unique(np.asarray(ids_out), return_counts=True)
    if (cnt > 1).any():
        errs.append(f"{what}: {int((cnt > 1).sum())} ids labelled more than once")
    a, b = set(np.asarray(ids_in).tolist()), set(uniq.tolist())
    if a != b:
        errs.append(f"{what}: {len(a - b)} ids unlabelled, {len(b - a)} unknown ids labelled")
    return errs


def _read_dir(path: str, columns=None):
    return pads.dataset(path, format="parquet", partitioning="hive").to_table(columns=columns)


def dir_mb(path: str) -> float:
    total = 0
    for root, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total / (1 << 20)


# ---------------------------------------------------------------------------
# workloads
# ---------------------------------------------------------------------------
class Workload:
    name = ""

    def __init__(self, spark, d: str, meta: dict):
        self.spark, self.d, self.meta = spark, d, meta
        self.truth = np.load(os.path.join(d, "truth.npy"))

    def prepare(self) -> None:
        """Untimed per-input preparation (built once per seed)."""

    def run(self, out: str, meter=None) -> PassResult:
        """One pass, writing its output under `out`."""
        raise NotImplementedError

    def check(self, out: str, res: PassResult) -> None:
        """Append check failures to res.errors; fill recall/precision."""
        raise NotImplementedError

    def census(self) -> dict:
        return {}

    def light(self) -> None:
        """One job of the workload's first Python UDF stage on its input:
        the warm-up that ends set-ups 2 and 3."""
        from lsh_hdc_spark.functions.sign import signed

        signed(self.spark.read.parquet(os.path.join(self.d, self.table)), self.cfg).count()


class _BatchText(Workload):
    """Shared wiring of the two batch text workloads (the layer order of
    ``plans/pipeline.py::_labels_with_state``)."""

    table = ""
    payload = False

    def run(self, out, meter=None):
        path = os.path.join(self.d, self.table)
        rows = self.meta["inputs"][self.table]["rows"]
        t0 = time.monotonic()
        if meter is None:
            self._untraced(path, out)
        else:
            self._traced(path, out, meter)
        return PassResult(rows, [time.monotonic() - t0])

    def _traced(self, path, out, meter):
        from pyspark.sql import functions as F
        from pyspark.storagelevel import StorageLevel

        from lsh_hdc_spark.functions.sign import signed
        from lsh_hdc_spark.micro import micro_rebound
        from lsh_hdc_spark.operators.cc import assign_clusters
        from lsh_hdc_spark.operators.pairs import candidate_pairs, verify_pairs
        from lsh_hdc_spark.operators.substring import substring_pairs
        from lsh_hdc_spark.plans.pipeline import BROADCAST_LABEL_ROWS

        cfg = self.cfg
        iid = cfg.id_col
        with meter.span("pass"):
            df = self.spark.read.parquet(path)
            base, _ = micro_rebound(df.select(iid, cfg.text_col))
            with meter.span("sign") as sp:
                s = signed(base, cfg).persist(StorageLevel.MEMORY_AND_DISK)
                sp.extra["rows_out"] = s.count()
            with meter.span("pairs") as sp:
                pairs = candidate_pairs(s, cfg).localCheckpoint(eager=False)
                sp.extra["rows_out"] = pairs.count()
            with meter.span("verify") as sp:
                edges = verify_pairs(pairs, s, cfg).select("src", "dst").localCheckpoint(eager=False)
                sp.extra["rows_out"] = n_edges = edges.count()
            if cfg.substring_min_len:
                with meter.span("substring") as sp:
                    sub = substring_pairs(
                        base, iid, cfg.text_col, min_len=cfg.substring_min_len
                    ).select("src", "dst").localCheckpoint(eager=False)
                    sp.extra["rows_out"] = n_sub = sub.count()
                edges = edges.unionByName(sub)
                n_edges += n_sub
            with meter.span("cc") as sp:
                labels = assign_clusters(base, edges, iid, cfg.min_support).localCheckpoint(eager=False)
                sp.extra["rows_out"] = n_labels = labels.count()
                sp.extra["edges_in"] = n_edges
            s.unpersist()
            with meter.span("payload") as sp:
                if self.payload:
                    if n_labels <= BROADCAST_LABEL_ROWS:
                        labels = F.broadcast(labels)
                    result = df.join(labels, iid)
                else:
                    result = labels
                self._write(result, out)
                sp.extra["rows_out"] = n_labels
                sp.extra["bytes_written_mb"] = dir_mb(out)

    @staticmethod
    def _write(df, out):
        df.write.mode("overwrite").option("parquet.enable.dictionary", "false").parquet(out)

    def census(self):
        from lsh_hdc_spark.plans.pipeline import pipeline_stats

        df = self.spark.read.parquet(os.path.join(self.d, self.table))
        tiers = {r["tier"]: r for r in pipeline_stats(df, self.cfg).collect()}
        n = lambda t, k: int(tiers[t][k]) if t in tiers else 0  # noqa: E731
        return {
            "pairs.band_keys": sum(int(r["n_rows"]) for r in tiers.values()),
            "pairs.buckets_cold": n("cold", "n_buckets"),
            "pairs.buckets_hot_anchor": n("hot_anchor", "n_buckets"),
            "pairs.buckets_dropped": n("dropped", "n_buckets"),
        }


class ClipsPayload(_BatchText):
    name = "clips_payload"
    table = "clips"
    payload = True

    @property
    def cfg(self):
        from lsh_hdc_spark.config import CLIPS

        return CLIPS

    def _untraced(self, path, out):
        from lsh_hdc_spark.plans.pipeline import run_pipeline_clips

        self._write(run_pipeline_clips(self.spark.read.parquet(path), self.cfg), out)

    def check(self, out, res):
        t = _read_dir(out, ["clip_id", "cluster_id", "bytes"])
        src_ids = _read_dir(os.path.join(self.d, self.table), ["clip_id"]).column("clip_id")
        res.errors += _check_labels(src_ids.to_numpy(zero_copy_only=False),
                                    t.column("clip_id").to_numpy(zero_copy_only=False), "labels")
        if t.num_rows != res.rows:
            res.errors.append(f"output has {t.num_rows} rows, input {res.rows}")
        if gen.crc_sum(t) != self.meta["crc_sum"]:
            res.errors.append("sum(crc32(bytes)) of the output differs from the input")
        if res.errors:
            return
        ids = t.column("clip_id").to_pylist()
        pos = np.array([int(i[4:]) for i in ids])  # clipNNNNNNN -> generator row
        _, cl = np.unique(np.asarray(t.column("cluster_id").to_pylist()), return_inverse=True)
        res.recall, res.precision = pair_quality(self.truth[pos], cl)


class TranscriptsDense(_BatchText):
    name = "transcripts_dense"
    table = "docs"

    @property
    def cfg(self):
        from lsh_hdc_spark.config import DedupConfig

        return DedupConfig(id_col="doc_id", text_col="text",
                           substring_min_len=SUBSTRING_MIN_LEN, pair_cap=PAIR_CAP)

    def _untraced(self, path, out):
        from lsh_hdc_spark.plans.pipeline import run_pipeline

        self._write(run_pipeline(self.spark.read.parquet(path), self.cfg), out)

    def check(self, out, res):
        t = _read_dir(out, ["doc_id", "cluster_id"])
        ids = t.column("doc_id").to_numpy()
        res.errors += _check_labels(np.arange(res.rows), ids, "labels")
        if res.errors:
            return
        truth = self.truth[ids]
        res.recall, res.precision = pair_quality(truth, t.column("cluster_id").to_numpy())


class AnnEmbeddings(Workload):
    name = "ann_embeddings"

    def light(self):
        from lsh_hdc_spark.operators.knn import ann_bucket_stats

        ann_bucket_stats(self.spark.read.parquet(os.path.join(self.d, "emb"))).collect()

    def run(self, out, meter=None):
        from lsh_hdc_spark.operators.knn import ann_topk

        path = os.path.join(self.d, "emb")
        rows = self.meta["inputs"]["emb"]["rows"]
        t0 = time.monotonic()
        if meter is None:
            _BatchText._write(ann_topk(self.spark.read.parquet(path), k=ANN_K), out)
        else:
            with meter.span("pass"):
                with meter.span("knn") as sp:
                    top = ann_topk(self.spark.read.parquet(path), k=ANN_K).localCheckpoint(eager=False)
                    sp.extra["rows_out"] = top.count()
                with meter.span("payload") as sp:
                    _BatchText._write(top, out)
                    sp.extra["rows_out"] = meter.spans[-2].extra["rows_out"]
                    sp.extra["bytes_written_mb"] = dir_mb(out)
        return PassResult(rows, [time.monotonic() - t0])

    def check(self, out, res):
        rows = res.rows
        t = _read_dir(out, ["vec_id", "neighbor_id", "rank"])
        v, nb, rk = (t.column(c).to_numpy() for c in ("vec_id", "neighbor_id", "rank"))
        if (v == nb).any():
            res.errors.append("a vector is returned as its own neighbour")
        if ((rk < 1) | (rk > ANN_K)).any():
            res.errors.append("rank outside 1..k")
        key = v.astype(np.int64) * (1 << 32) + rk
        if np.unique(key).size != key.size:
            res.errors.append("duplicate (vec_id, rank)")
        if ((v < 0) | (v >= rows)).any() or ((nb < 0) | (nb >= rows)).any():
            res.errors.append("unknown vector id in the output")
        if not res.errors:
            exact = self.truth  # (n, k) exact neighbours
            want = set((np.repeat(np.arange(rows), ANN_K) * (1 << 32) + exact.reshape(-1)).tolist())
            got = v.astype(np.int64) * (1 << 32) + nb
            hit = sum(1 for g in got.tolist() if g in want)
            res.recall = hit / (rows * ANN_K)
            res.precision = hit / max(len(got), 1)

    def census(self):
        from lsh_hdc_spark.operators.knn import ann_bucket_stats

        df = self.spark.read.parquet(os.path.join(self.d, "emb"))
        rows = ann_bucket_stats(df).collect()
        return {"knn.buckets_dropped": sum(int(r["n_buckets"]) for r in rows if r["tier"] == "dropped")}


class StreamFused(Workload):
    name = "stream_fused"
    table = "base"

    @property
    def cfg(self):
        from lsh_hdc_spark.config import CLIPS

        return CLIPS

    @property
    def batches(self) -> list[str]:
        return sorted(k for k in self.meta["inputs"] if k.startswith("batch_"))

    def prepare(self):
        """Seed the fused index from the base corpus once per input."""
        from lsh_hdc_spark.streaming.fused import FusedStreamIndex, seed_fused_index

        seeded = os.path.join(self.d, "seeded_index")
        if os.path.exists(os.path.join(seeded, "_DONE")):
            return
        shutil.rmtree(seeded, ignore_errors=True)
        base = self.spark.read.parquet(os.path.join(self.d, "base"))
        seed_fused_index(self.spark, base, self.cfg, FusedStreamIndex.at(seeded))
        open(os.path.join(seeded, "_DONE"), "w").close()

    def run(self, out, meter=None):
        from lsh_hdc_spark.streaming.fused import (
            FusedStreamIndex,
            attach_fused_batch,
            write_fused_epoch,
        )
        from lsh_hdc_spark.streaming.ingest import _write_epoch

        shutil.rmtree(out, ignore_errors=True)
        shutil.copytree(os.path.join(self.d, "seeded_index"), out)
        index = FusedStreamIndex.at(out)
        rows = sum(self.meta["inputs"][b]["rows"] for b in self.batches)
        res = PassResult(rows)
        cfg = self.cfg

        span = meter.span if meter is not None else lambda _: nullcontext({})
        with span("pass"):
            for epoch, name in enumerate(self.batches):
                t0 = time.monotonic()
                b = self.spark.read.parquet(os.path.join(self.d, name))
                with span("stream.attach") as sp:
                    labels, tr, ar = attach_fused_batch(b, cfg, index)
                    if meter is not None:
                        sp.extra["rows_out"] = labels.count()
                with span("stream.sink") as sp:
                    _write_epoch(labels, index.labels_dir, epoch, ["epoch"])
                    write_fused_epoch(tr, ar, index, cfg.id_col, epoch)
                    if meter is not None:
                        sp.extra["rows_out"] = self.meta["inputs"][name]["rows"]
                res.unit_s.append(time.monotonic() - t0)
        return res

    def check(self, out, res):
        from lsh_hdc_spark.streaming.fused import FusedStreamIndex

        index = FusedStreamIndex.at(out)
        t = _read_dir(index.labels_dir, ["clip_id", "cluster_id", "epoch"])
        ep = t.column("epoch").to_numpy()
        ids = np.asarray(t.column("clip_id").to_pylist())
        for k, name in enumerate(self.batches):
            want = _read_dir(os.path.join(self.d, name), ["clip_id"]).column("clip_id").to_pylist()
            res.errors += _check_labels(want, ids[ep == k], f"batch {k}")
        if res.errors:
            return
        pos = np.array([int(i[4:]) for i in ids])  # clipNNNNNNN -> row of base ++ batches
        cl = np.asarray(t.column("cluster_id").to_pylist())
        _, cl_codes = np.unique(cl, return_inverse=True)
        res.recall, res.precision = pair_quality(self.truth[pos], cl_codes)
        res.layers["stream.adopted_rows"] = int(
            sum((ep == k).sum() - np.isin(cl[ep == k], ids[ep == k]).sum()
                for k in range(len(self.batches)))
        )
        res.layers["stream.index_rows"] = _read_dir(index.text.sig_dir, ["clip_id"]).num_rows


WORKLOADS = {w.name: w for w in (ClipsPayload, TranscriptsDense, StreamFused, AnnEmbeddings)}
