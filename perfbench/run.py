"""Seeded dedup benchmark: one workload per invocation.

    python3 perfbench/run.py --workload clips_payload --seed 1 --seconds 6 --trace 0

Run from the repository root.  The input is generated from --seed (numpy,
cached under .perfbench/ per workload and seed, outside every timed
region), Spark runs at local[nproc], and timed passes repeat until
--seconds of pass time has been measured.  Every pass's output is checked.
--scale tiny runs the same code on the tests' inputs.

--trace 0 prints the end-to-end metrics (BENCHMARK.json "end_to_end");
--trace 1 runs the layer functions one by one under the span meter
(meter.py) and prints the per-layer metrics (BENCHMARK.json "per_layer").
The last stdout line is the result object; the line before it is a report
with the run environment, per-sample weather notes and check errors.
Exit code 0 means every pass ran and passed its checks.
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import os
import shutil
import statistics
import sys
import threading
import time

T_PROCESS = time.monotonic()

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
sys.path.insert(0, HERE)

import gen  # noqa: E402

#: set-ups per run; setup_s is their median
SETUPS = 3
#: untimed passes that end set-up 1; the first pays the cold start
WARMUP_PASSES = 1
#: timed passes per run, at least (a run measures --seconds, then stops);
#: wall_s is their median
MIN_PASSES = 2
TRACED_PASSES = 1
#: no timed pass after the first starts this long after process start, so
#: that a run on a slow host stays well inside 180 s
DEADLINE_S = 80.0
#: driver heap unless SPARK_DRIVER_MEM is set: session.py's 48g default
#: cannot be backed on a host without swap, and a small heap saturates
#: early, which keeps peak_rss_mb steady from run to run
DRIVER_MEM = "1g"

#: end-to-end metrics every untraced run prints (BENCHMARK.json "end_to_end")
END_TO_END = {"wall_s": "s", "rows_per_s": "rows/s", "batch_p50_s": "s", "setup_s": "s",
              "peak_rss_mb": "MB", "pair_recall": "ratio", "pair_precision": "ratio"}
LAYER_FIELDS = ("wall_s", "jobs", "tasks", "task_s", "shuffle_read_mb",
                "shuffle_write_mb", "spill_mb", "failed_tasks", "rows_out")


def _die(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def _load_bench():
    """bench.py's weather helpers (_timed, _canary): imported, not copied."""
    path = os.path.join(ROOT, "bench.py")
    if not os.path.exists(path):
        _die(f"{path} not found: run from the repository root")
    spec = importlib.util.spec_from_file_location("bench_main", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _pin_env() -> dict:
    """Environment the JVM and its Python workers inherit: the package on
    PYTHONPATH, scratch space inside the checkout, driver memory the host
    can back."""
    if not os.path.isdir(os.path.join(ROOT, "lsh_hdc_spark")):
        _die(f"package lsh_hdc_spark not found under {ROOT}")
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    pp = os.environ.get("PYTHONPATH", "")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + pp if pp else "")
    os.environ.setdefault("SPARK_DRIVER_MEM", DRIVER_MEM)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    # every JVM spark-submit starts (launcher and driver) keeps its temp
    # files in the checkout and writes no hsperfdata
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ.pop("PYSPARK_SUBMIT_ARGS", None)
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    return {"nproc": os.cpu_count(), "driver_mem": os.environ["SPARK_DRIVER_MEM"]}


def _session(cores: int):
    from lsh_hdc_spark import get_spark

    tmp = os.path.join(WORK, "tmp")
    # the driver heap is committed and touched at JVM start, so that
    # peak_rss_mb does not depend on how far G1 happened to grow the heap
    # before the peak; what it then tracks is the JVM's memory outside the
    # heap and the Python workers
    heap = f"-Xms{os.environ['SPARK_DRIVER_MEM']} -XX:+AlwaysPreTouch"
    return get_spark(
        cores=cores,
        app_name="perfbench",
        warehouse_dir=os.path.join(WORK, "warehouse"),
        extra_conf={"spark.local.dir": tmp, "spark.ui.showConsoleProgress": "false",
                    "spark.driver.extraJavaOptions": heap},
    )


def _stop(spark) -> None:
    """Stop the session and wait for the JVM to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    if gw is not None:
        gw.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        try:
            if proc.stdin:
                proc.stdin.close()
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


class RssPeak:
    """Peak resident memory (MB) of the driver JVM plus its descendants
    (the Python workers), sampled every 100 ms while running.  Each
    process counts its proportional set size, so the pages that forked
    Python workers share with their daemon are counted once."""

    def __init__(self, pid: int):
        self.pid, self.peak, self._on = pid, 0.0, False
        self._t = threading.Thread(target=self._loop, daemon=True)

    def _tree(self) -> list[int]:
        kids: dict[int, list[int]] = {}
        for p in os.listdir("/proc"):
            if p.isdigit():
                try:
                    with open(f"/proc/{p}/stat") as fh:
                        ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
                    kids.setdefault(ppid, []).append(int(p))
                except (OSError, ValueError, IndexError):
                    pass
        out, todo = [], [self.pid]
        while todo:
            p = todo.pop()
            out.append(p)
            todo += kids.get(p, [])
        return out

    def sample(self) -> float:
        kb = 0
        for p in self._tree():
            try:
                with open(f"/proc/{p}/smaps_rollup") as fh:
                    kb += next(int(x.split()[1]) for x in fh if x.startswith("Pss:"))
            except (OSError, ValueError, IndexError, StopIteration):
                pass
        return kb / 1024

    def _loop(self):
        while self._on:
            self.peak = max(self.peak, self.sample())
            time.sleep(0.1)

    def __enter__(self):
        self._on = True
        self._t.start()
        return self

    def __exit__(self, *exc):
        self._on = False
        self._t.join()
        self.peak = max(self.peak, self.sample())


def _jvm_pid(spark) -> int:
    return int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())


def _check_inputs(workload: str, seed: int, scale: str, d: str, meta: dict) -> list[str]:
    """Refuse an input that differs from what was recorded: every cached
    table must still match its own hash, and a seed recorded in inputs.json
    must produce exactly the recorded row counts and hashes."""
    errs = [f"cached input {n} differs from its recorded hash" for n in gen.verify(d, meta)]
    with open(os.path.join(HERE, "inputs.json")) as fh:
        want = json.load(fh).get(scale, {}).get(workload, {}).get(str(seed))
    if want is not None and want != meta["inputs"]:
        errs.append(f"{workload} input for seed {seed} differs from perfbench/inputs.json")
    return errs


def _median(xs):
    return statistics.median(xs) if xs else 0.0




def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=gen.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=tuple(gen.SIZES), default="full")
    args = ap.parse_args(argv)

    env = _pin_env()
    bench = _load_bench()
    import workloads as W

    t_gen0 = time.monotonic()
    d, meta = gen.ensure(args.workload, args.seed, args.scale, os.path.join(WORK, "inputs"))
    input_errs = _check_inputs(args.workload, args.seed, args.scale, d, meta)
    if input_errs:
        _die("; ".join(input_errs))
    gen_s = time.monotonic() - t_gen0

    out_root = os.path.join(WORK, "out", f"{args.workload}-{os.getpid()}")
    cores = os.cpu_count() or 1
    spark = _session(cores)
    tp = time.monotonic()
    wl = W.WORKLOADS[args.workload](spark, d, meta)
    wl.prepare()  # built once per seed: input preparation, not set-up
    prep_s = time.monotonic() - tp

    report = {"workload": args.workload, "seed": args.seed, "scale": args.scale,
              "trace": args.trace, "spark": spark.version, "cores": cores, **env,
              "input_gen_s": round(gen_s, 3), "input_prep_s": round(prep_s, 3),
              "samples": [], "errors": []}
    tally = {"attempted": 0, "failed": 0, "canary": bench._canary()}

    def one_pass(k: int, meter=None):
        """Run pass k under the weather timer, check its output, and record
        the sample; returns its PassResult, or None if it raised."""
        out = os.path.join(out_root, f"p{k}")
        box = {}

        def _pass():
            try:
                box["res"] = wl.run(out, meter)
            except Exception as e:  # a pass that raises is a failed pass
                box["exc"] = f"{type(e).__name__}: {e}"

        secs, steal, sy, _wa = bench._timed(_pass)
        wl.spark.catalog.clearCache()
        canary = bench._canary()
        res = box.get("res")
        if res is not None:
            try:
                wl.check(out, res)
            except Exception as e:
                res.errors.append(f"check raised {type(e).__name__}: {e}")
        n_units = len(res.unit_s) if res else 1
        tally["attempted"] += n_units
        errs = [box["exc"]] if "exc" in box else list(res.errors)
        if errs:
            tally["failed"] += n_units
            report["errors"].append({"pass": k, "errors": errs[:5]})
        report["samples"].append({
            "pass": k, "traced": meter is not None, "wall_s": round(secs, 4),
            "units_s": [round(u, 4) for u in res.unit_s] if res else [],
            "steal_pct": steal, "sy_pct": sy,
            "canary_ms": round(max(tally["canary"], canary), 1),
        })
        tally["canary"] = canary
        shutil.rmtree(out, ignore_errors=True)
        return res

    results: list = []
    untraced_walls: list[float] = []
    setups: list[float] = []
    warmups: list = []
    meter = None
    with RssPeak(_jvm_pid(spark)) as rss:
        # set-up 1 runs from process start (input generation and
        # preparation excluded) to the end of the untimed, checked warm-up
        # passes; the timed passes follow
        for k in range(WARMUP_PASSES):
            res = one_pass(k)
            if res is not None:
                warmups.append(res)
        setups.append(time.monotonic() - T_PROCESS - gen_s - prep_s)
        if args.trace:
            from meter import Meter

            meter = Meter(spark, run_id=f"{args.workload}-s{args.seed}-{os.getpid()}")
        k = WARMUP_PASSES  # pass number; k - WARMUP_PASSES timed passes so far
        while True:
            i = k - WARMUP_PASSES
            if meter is not None and i >= 2 * TRACED_PASSES:
                break
            if meter is None and len(untraced_walls) >= MIN_PASSES and sum(untraced_walls) >= args.seconds:
                break
            if i > 0 and time.monotonic() - T_PROCESS > DEADLINE_S:
                break
            traced = meter is not None and i % 2 == 1
            res = one_pass(k, meter if traced else None)
            if res is not None:
                results.append((traced, res))
                if not traced:
                    untraced_walls.append(sum(res.unit_s))
            k += 1
    # set-ups 2.. stop the session and create it again in the same JVM,
    # then start the Python workers with one job; they come after the
    # timed passes so that they can neither warm nor cool them, and outside
    # the memory sampling, where an old and a new set of Python workers
    # could overlap
    for _ in range(SETUPS - 1 if meter is None else 0):
        spark.stop()
        t0 = time.monotonic()
        spark = wl.spark = _session(cores)
        wl.light()
        setups.append(time.monotonic() - t0)
    report["passes"] = k
    attempted, failed = tally["attempted"], tally["failed"]

    if args.trace:
        metrics = _per_layer(wl, meter, results, untraced_walls, report)
    else:
        metrics = _end_to_end(results, setups, rss.peak)
    report["setups_s"] = [round(x, 3) for x in setups]
    if meter is not None:
        os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
        meter.dump(os.path.join(WORK, "traces", f"{meter.run_id}.jsonl"))
    _stop(spark)
    shutil.rmtree(out_root, ignore_errors=True)

    passes = warmups + [r for _, r in results]
    qual = {(r.recall, r.precision) for r in passes if r.recall is not None}
    if len(qual) > 1:
        failed = min(attempted, failed + 1)
        report["errors"].append({"pass": None, "errors": [f"pair quality differs between passes: {sorted(qual)}"]})
    report["fail_frac"] = failed / max(attempted, 1)
    report["process_s"] = round(time.monotonic() - T_PROCESS, 3)
    correct = failed == 0 and bool(results)
    print(json.dumps(report))
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}))
    return 0 if correct else 1


def _end_to_end(results, setups, peak_rss) -> dict:
    walls = [sum(r.unit_s) for _, r in results]
    units = [u for _, r in results for u in r.unit_s]
    rows = results[0][1].rows if results else 0
    wall = _median(walls)
    first = next((r for _, r in results if r.recall is not None), None)
    values = {
        "wall_s": wall,
        "rows_per_s": rows / wall if wall else 0.0,
        "batch_p50_s": _median(units),
        "setup_s": _median(setups),
        "peak_rss_mb": peak_rss,
        "pair_recall": first.recall if first else 0.0,
        "pair_precision": first.precision if first else 0.0,
    }
    return {k: (values[k], unit) for k, unit in END_TO_END.items()}


#: layers each workload runs, in pipeline order
WORKLOAD_LAYERS = {
    "clips_payload": ("sign", "pairs", "verify", "cc", "payload"),
    "transcripts_dense": ("sign", "pairs", "verify", "substring", "cc", "payload"),
    "stream_fused": ("stream.attach", "stream.sink"),
    "ann_embeddings": ("knn", "payload"),
}
#: per-layer metrics every traced run prints (BENCHMARK.json "per_layer");
#: the stream.* and knn.* metrics are added on their own workloads
BATCH_LAYERS = ("sign", "pairs", "verify", "substring", "cc", "payload")
_UNITS = {"wall_s": "s", "task_s": "s", "jobs": "count", "tasks": "count",
          "failed_tasks": "count", "rows_out": "rows"}


def per_layer_names(workload: str | None = None) -> list[str]:
    layers = BATCH_LAYERS + tuple(
        x for x in WORKLOAD_LAYERS.get(workload, ()) if x not in BATCH_LAYERS)
    names = [f"{layer}.{f}" for layer in layers for f in LAYER_FIELDS]
    names += ["pairs.band_keys", "pairs.candidates", "pairs.buckets_cold",
              "pairs.buckets_hot_anchor", "pairs.buckets_dropped", "verify.pass_rate",
              "substring.edges", "cc.edges_in", "payload.bytes_written_mb"]
    if workload == "stream_fused":
        names += ["stream.jobs_per_batch", "stream.adopted_rows", "stream.batch_growth",
                  "stream.index_rows"]
    if workload == "ann_embeddings":
        names += ["knn.buckets_dropped"]
    return names + ["trace.overhead", "trace.unattributed_s", "trace.pass_wall_s",
                    "host.steal_pct", "host.canary_ms"]


def _per_layer(wl, meter, results, untraced_walls, report) -> dict:
    """Per-layer metrics of the traced passes: each layer's self time and
    Spark counters averaged over passes (means, so that the layers' self
    times plus trace.unattributed_s equal trace.pass_wall_s exactly)."""
    from meter import self_times

    st = self_times(meter.spans)
    roots = [i for i, s in enumerate(meter.spans) if s.parent is None]
    n = max(len(roots), 1)
    acc: dict[str, float] = {}
    for s, self_s in zip(meter.spans, st):
        if s.parent is None:
            continue
        vals = {"wall_s": self_s, **s.counters, **s.extra}
        for k, v in vals.items():
            if isinstance(v, (int, float)):
                acc[f"{s.name}.{k}"] = acc.get(f"{s.name}.{k}", 0.0) + v / n
    census = wl.census()
    traced = [r for t, r in results if t]
    m: dict[str, tuple] = {}
    for name in per_layer_names(wl.name):
        layer, f = name.rsplit(".", 1)
        if f in LAYER_FIELDS:
            m[name] = (acc.get(name, 0.0), _UNITS.get(f, "MB"))
    for k in ("pairs.band_keys", "pairs.buckets_cold", "pairs.buckets_hot_anchor",
              "pairs.buckets_dropped", "knn.buckets_dropped"):
        m[k] = (census.get(k, 0), "rows" if k == "pairs.band_keys" else "count")
    cand = acc.get("pairs.rows_out", 0.0)
    m["pairs.candidates"] = (cand, "rows")
    m["verify.pass_rate"] = (acc.get("verify.rows_out", 0.0) / cand if cand else 0.0, "ratio")
    m["substring.edges"] = (acc.get("substring.rows_out", 0.0), "rows")
    m["cc.edges_in"] = (acc.get("cc.edges_in", 0.0), "rows")
    m["payload.bytes_written_mb"] = (acc.get("payload.bytes_written_mb", 0.0), "MB")
    if wl.name == "stream_fused":
        units = [r.unit_s for r in traced if r.unit_s]
        n_batches = sum(len(u) for u in units)
        jobs = (acc.get("stream.attach.jobs", 0.0) + acc.get("stream.sink.jobs", 0.0)) * n
        m["stream.jobs_per_batch"] = (jobs / n_batches if n_batches else 0.0, "count")
        m["stream.adopted_rows"] = (_median([r.layers["stream.adopted_rows"] for r in traced]), "rows")
        q = lambda u: max(len(u) // 4, 1)  # noqa: E731
        m["stream.batch_growth"] = (
            _median([_median(u[-q(u):]) / _median(u[:q(u)]) for u in units]), "ratio")
        m["stream.index_rows"] = (_median([r.layers["stream.index_rows"] for r in traced]), "rows")
    traced_wall = statistics.fmean(meter.spans[i].dur for i in roots) if roots else 0.0
    m["trace.overhead"] = (traced_wall / _median(untraced_walls) if untraced_walls else 0.0, "ratio")
    m["trace.unattributed_s"] = (statistics.fmean(st[i] for i in roots) if roots else 0.0, "s")
    m["trace.pass_wall_s"] = (traced_wall, "s")
    samples = report["samples"]
    m["host.steal_pct"] = (_median([s["steal_pct"] for s in samples]), "%")
    m["host.canary_ms"] = (_median([s["canary_ms"] for s in samples]), "ms")
    return {k: m[k] for k in per_layer_names(wl.name)}


if __name__ == "__main__":
    sys.exit(main())
