"""ER pipeline benchmark: one workload, one seed, one JSON result line.

    python3 erbench/run.py --workload clean_blast_gsmb --seed 1 --seconds 10 --trace 0

Runs from the root of a checkout that holds the ``sparker_spark``
package. It generates the workload's inputs from the seed, starts
Spark on local[N] (N = usable cores, at most 4; shuffle partitions =
N), and runs the workload as a closed loop: one pipeline at a time,
each repetition starting after the previous one ended, for
``--seconds`` seconds after the first repetition. Every repetition's
output is checked. ``--trace 0`` reports the end-to-end metrics,
``--trace 1`` the per-layer counters of one traced repetition. The
last stdout line is the result; the line before it carries host
context and details. Everything the run writes goes under
``.erbench/`` in the checkout. See erbench/README.md.
"""

from __future__ import annotations

import argparse
import gc
import hashlib
import json
import os
import resource
import shutil
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".erbench")
GOLDEN = os.path.join(HERE, "golden.json")

DEFAULT_SEED = 1
MIN_WARM = 1

# generator settings per workload; ``stream`` separates the seed
# streams of workloads that share a generator
WORKLOADS = {
    "clean_blast_gsmb": {"variant": "clean", "entities": 800, "stream": 2},
    "dirty_ingest": {"variant": "dirty", "entities": 1500, "batches": 24, "stream": 4},
}


def cores() -> int:
    return min(4, len(os.sched_getaffinity(0)))


def sentinel() -> float:
    """Seconds for a fixed pure-Python loop: host speed, not program speed."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(1_000_000):
        acc = (acc + i * i) % 1_000_003
    return time.perf_counter() - t0


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks since boot, from /proc/stat."""
    with open("/proc/stat") as f:
        t = [int(x) for x in f.readline().split()[1:]]
    return t[7], sum(t)


def tail(samples: list[float]) -> tuple[float, float]:
    """(value, percentile) of the highest percentile with at least ten
    samples beyond it; the maximum when there are fewer than eleven."""
    s = sorted(samples)
    n = len(s)
    if n < 11:
        return s[-1], 100.0
    k = n - 11  # 0-based rank with exactly ten samples above it
    return s[k], 100.0 * (k + 1) / n


def pairs_sha(rows) -> str:
    h = hashlib.sha256()
    for r in sorted(tuple(int(x) for x in r) for r in rows):
        h.update(repr(r).encode())
    return h.hexdigest()[:16]


def inputs(workload: str, seed: int) -> dict:
    """Generate (once per seed) and return the manifest with full paths."""
    spec = WORKLOADS[workload]
    with open(os.path.join(HERE, "gen.py"), "rb") as f:
        version = hashlib.sha256(f.read() + json.dumps(spec).encode()).hexdigest()[:8]
    out = os.path.join(WORK, "inputs", f"{workload}-{seed}-{version}")
    manifest = os.path.join(out, "manifest.json")
    if not os.path.exists(manifest):
        gen_seed = seed * 1000 + spec["stream"]
        cmd = [
            sys.executable, os.path.join(HERE, "gen.py"), "--variant", spec["variant"],
            "--entities", str(spec["entities"]), "--seed", str(gen_seed),
            "--batches", str(spec.get("batches", 0)), "--out", out,
        ]
        subprocess.run(cmd, check=True, stdout=subprocess.DEVNULL)
    with open(manifest) as f:
        m = json.load(f)
    for k in ("profiles", "a", "b", "gt", "index", "new"):
        if k in m:
            m[k] = os.path.join(out, m[k])
    return m


class Session:
    """Spark session lifecycle; ``stop`` also ends the JVM."""

    def __init__(self, n: int, event_dir: str | None = None):
        self.n = n
        self.conf = {
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')}",
        }
        if event_dir:
            self.conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": event_dir,
                "spark.eventLog.compress": "false",
            })
        self.spark = None

    def start(self) -> float:
        """Seconds from get_spark() until a first job has run: the JVM
        launch and session start that one process pays once."""
        from sparker_spark.session import get_spark

        t0 = time.perf_counter()
        self.spark = get_spark("erbench", f"local[{self.n}]", self.n, self.conf)
        self.spark.range(1).count()
        return time.perf_counter() - t0

    def jvm_pid(self) -> int:
        from pyspark import SparkContext

        return SparkContext._gateway.proc.pid

    def stop(self) -> None:
        """Stop Spark and wait for the JVM, which exits on stdin EOF."""
        from pyspark import SparkContext

        if self.spark is None:
            return
        proc = SparkContext._gateway.proc
        self.spark.stop()
        proc.stdin.close()
        proc.wait(timeout=60)

    def tidy(self) -> None:
        """Free caches and checkpoints between repetitions (untimed)."""
        self.spark.catalog.clearCache()
        gc.collect()
        self.spark.sparkContext._jvm.System.gc()


def peak_rss_mb(jvm_pid: int) -> float:
    with open(f"/proc/{jvm_pid}/status") as f:
        jvm_kb = next(int(line.split()[1]) for line in f if line.startswith("VmHWM:"))
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    return (jvm_kb + py_kb) / 1024.0


# ---------------------------------------------------------------- checks


def check_batch(res, golden: dict | None, first: dict | None) -> tuple[list[str], dict]:
    """Output checks of one batch-workload repetition; returns
    (failures, signature)."""
    from sparker_spark.evaluation import Evaluation

    fails, shas = [], []
    for i, (retained, candidates) in enumerate(res.pruned):
        rows = retained.select("p1", "p2").collect()
        if any(r["p1"] >= r["p2"] for r in rows):
            fails.append(f"pruner {i}: a retained pair has p1 >= p2")
        if len({(r["p1"], r["p2"]) for r in rows}) != len(rows):
            fails.append(f"pruner {i}: a retained pair appears twice")
        outside = retained.select("p1", "p2").join(candidates, ["p1", "p2"], "left_anti").count()
        if outside:
            fails.append(f"pruner {i}: {outside} retained pairs are not candidate pairs")
        shas.append(pairs_sha(rows))
    s = res.stats
    b = Evaluation.get_stats_broadcast(res.retained, res.gt)
    if (b.num_edges, b.num_matches, b.num_gt) != (s.num_edges, s.num_matches, s.num_gt):
        fails.append(f"get_stats {s} disagrees with get_stats_broadcast {b}")
    sig = {"pairs_sha": "/".join(shas), "edges": s.num_edges, "pc": s.pc, "pq": s.pq}
    for ref, what in ((first, "first repetition"), (golden, "golden value")):
        if ref is not None and ref != sig:
            fails.append(f"output {sig} differs from the {what} {ref}")
    return fails, sig


def delta_oracle(postings: dict, new_rows, cap: int) -> dict:
    """Independent delta of one ingest batch: {(p1, p2): shared keys}
    over keys whose old+new block holds at most ``cap`` profiles."""
    new_by_key: dict[str, set] = {}
    for r in new_rows:
        new_by_key.setdefault(r["key"], set()).add(r["profile_id"])
    out: dict[tuple, int] = {}
    for key, new in new_by_key.items():
        block = postings.get(key, set()) | new
        if len(block) > cap:
            continue
        for p in new:
            for q in block:
                if q != p and not (q in new and q < p):  # new x new once
                    pair = (min(p, q), max(p, q))
                    out[pair] = out.get(pair, 0) + 1
    return out


# ---------------------------------------------------------------- runs


def run_batch(workload, inp, sess, seconds, traced_run, golden):
    import pipelines

    fn = getattr(pipelines, workload)
    spark = sess.spark
    walls, attempted, failed, sig0, fails = [], 0, 0, None, []

    def rep(traced=False):
        nonlocal attempted, failed, sig0
        attempted += 1
        L = pipelines.Layers(spark, traced)
        t0 = time.perf_counter()
        try:
            res = fn(spark, L, inp)
            wall = time.perf_counter() - t0
            f, sig = check_batch(res, golden, sig0)
        except Exception:  # a failed repetition is counted, not fatal
            traceback.print_exc()
            failed += 1
            fails.append(f"repetition {attempted} raised")
            return None, L
        sig0 = sig0 or sig
        if f:
            failed += 1
            fails.extend(f)
        sess.tidy()
        return wall, L

    first, _ = rep()
    t_end = time.perf_counter() + seconds
    n_warm = 0
    while n_warm < MIN_WARM or (not traced_run and time.perf_counter() < t_end):
        w, _ = rep()
        n_warm += 1
        if w is not None:
            walls.append(w)
    out = {"first": first, "walls": walls, "attempted": attempted,
           "failed": failed, "fails": fails, "sig": sig0}
    if traced_run:
        tw, L = rep(traced=True)
        out.update(traced_walls=[tw], layers=L)
    return out


def run_ingest(inp, sess, traced_run, golden):
    import pipelines

    spark = sess.spark
    ing = pipelines.Ingest(spark, inp)
    postings: dict[str, set] = {}
    for r in ing.pieces[0].select("profile_id", "key").collect():
        postings.setdefault(r["key"], set()).add(r["profile_id"])
    L_traced = pipelines.Layers(spark, True)
    walls, traced_walls, all_edges, fails = [], [], {}, []
    attempted = failed = 0
    for b in range(len(inp["batch_ids"])):
        traced = traced_run and b % 2 == 1
        L = L_traced if traced else pipelines.Layers(spark, False)
        attempted += 1
        t0 = time.perf_counter()
        try:
            rows, keys = ing.batch(L, b)
            wall = time.perf_counter() - t0
            new_rows = keys.select("profile_id", "key").collect()
        except Exception:
            traceback.print_exc()
            failed += 1
            fails.append(f"batch {b} raised")
            continue
        (traced_walls if traced else walls).append(wall)
        got = {(r["p1"], r["p2"]): r["cbs"] for r in rows}
        bad = len(got) != len(rows) or any(p1 >= p2 for p1, p2 in got)
        want = delta_oracle(postings, new_rows, pipelines.INGEST_MAX_BLOCK)
        if bad or got != {k: float(v) for k, v in want.items()}:
            failed += 1
            fails.append(f"batch {b}: delta edges differ from the independent oracle")
        for r in new_rows:
            postings.setdefault(r["key"], set()).add(r["profile_id"])
        all_edges.update(got)
    # quality over every ingested batch, against groundtruth pairs that
    # involve at least one new profile
    ids = {}
    for m in ing.id_maps:
        ids.update({r["original_id"]: r["profile_id"] for r in m.collect()})
    first_new = inp["index_rows"]
    gt = set()
    for r in spark.read.parquet(inp["gt"]).collect():
        a, b = ids[r["id1"]], ids[r["id2"]]
        if max(a, b) >= first_new:
            gt.add((min(a, b), max(a, b)))
    matches = sum(1 for p in all_edges if p in gt)
    pc = matches / len(gt) if gt else 0.0
    pq = matches / len(all_edges) if all_edges else 0.0
    sig = {"pairs_sha": pairs_sha((p1, p2, int(c)) for (p1, p2), c in all_edges.items()),
           "edges": len(all_edges), "pc": pc, "pq": pq}
    if golden is not None and golden != sig:
        failed += 1
        fails.append(f"output {sig} differs from the golden value {golden}")
    return {"walls": walls, "traced_walls": traced_walls, "attempted": attempted, "failed": failed,
            "fails": fails, "sig": sig, "layers": L_traced}


def layer_metrics(summary: dict, L, n: int) -> dict:
    """Per-layer counters of a traced run from its event-log summary
    and the tracer ``L``."""
    from pipelines import LAYERS

    groups = summary["groups"]
    m = {}
    for layer in LAYERS:
        c = groups.get(layer, {})
        wall = L.wall.get(layer, 0.0)
        m.update({
            f"{layer}.wall_s": (wall, "s"),
            f"{layer}.jobs": (c.get("jobs", 0), "count"),
            f"{layer}.stages": (c.get("stages", 0), "count"),
            f"{layer}.tasks": (c.get("tasks", 0), "count"),
            f"{layer}.task_cpu_s": (c.get("task_cpu_s", 0.0), "s"),
            f"{layer}.efficiency": (c.get("task_cpu_s", 0.0) / (wall * n) if wall else 0.0, "ratio"),
            f"{layer}.shuffle_mb": (c.get("shuffle_mb", 0.0), "MB"),
            f"{layer}.spill_mb": (c.get("spill_mb", 0.0), "MB"),
            f"{layer}.rows_out": (L.rows.get(layer, 0), "rows"),
        })
    extras = dict.fromkeys(
        ["blockers.comparisons", "purging.comparisons_kept", "filtering.comparisons_kept",
         "wnp.edges_kept", "supervised.edges_kept", "incremental.cpu_growth"], 0.0)
    extras.update(L.extra)
    cpu = [c["task_cpu_s"] for d, c in sorted(summary["descriptions"].items())
           if d.startswith("incremental/")]
    q = len(cpu) // 4
    if q and sum(cpu[:q]):
        extras["incremental.cpu_growth"] = sum(cpu[-q:]) / sum(cpu[:q])
    units = {"blockers.comparisons": "count"}
    m.update({k: (v, units.get(k, "ratio")) for k, v in extras.items()})
    return m


def main() -> int:
    ap = argparse.ArgumentParser(description="ER pipeline benchmark (see erbench/README.md)")
    ap.add_argument("--workload", choices=sorted(WORKLOADS), required=True)
    ap.add_argument("--seed", type=int, default=DEFAULT_SEED)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--record-golden", action="store_true",
                    help="store this run's outputs as the golden values of the default seed")
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "sparker_spark", "__init__.py")):
        print(f"erbench: no sparker_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update({
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": tmp,
        "PYSPARK_PYTHON": sys.executable,
        "PYTHONPATH": os.pathsep.join([ROOT, os.environ.get("PYTHONPATH", "")]).rstrip(os.pathsep),
    })
    import tempfile

    tempfile.tempdir = tmp

    host = {"nproc": os.cpu_count(), "usable_cores": len(os.sched_getaffinity(0)),
            "local_n": cores(), "driver_memory": os.environ.get("SPARK_DRIVER_MEMORY", "4g"),
            "loadavg_start": os.getloadavg(), "sentinel_start_s": sentinel()}
    ticks0 = cpu_ticks()
    inp = inputs(args.workload, args.seed)
    goldens = {}
    if os.path.exists(GOLDEN):
        with open(GOLDEN) as f:
            goldens = json.load(f)
    golden = goldens.get(args.workload) if args.seed == DEFAULT_SEED and not args.record_golden else None

    n = cores()
    event_dir = None
    if args.trace:
        event_dir = os.path.join(WORK, "events", f"{args.workload}-{args.seed}-{os.getpid()}")
        os.makedirs(event_dir, exist_ok=True)
    sess = Session(n, event_dir)
    try:
        setup_s = sess.start()
        ingest = args.workload == "dirty_ingest"
        if ingest:
            r = run_ingest(inp, sess, args.trace, golden)
        else:
            r = run_batch(args.workload, inp, sess, args.seconds, args.trace, golden)
        rss = peak_rss_mb(sess.jvm_pid())
    finally:
        sess.stop()

    if args.record_golden:
        goldens[args.workload] = r["sig"]
        with open(GOLDEN, "w") as f:
            json.dump(goldens, f, indent=1, sort_keys=True)
            f.write("\n")

    steal, total = (b - a for a, b in zip(ticks0, cpu_ticks()))
    host.update(loadavg_end=os.getloadavg(), sentinel_end_s=sentinel(),
                cpu_steal_share=steal / total if total else 0.0)
    details = {"workload": args.workload, "seed": args.seed, "trace": args.trace, "host": host,
               "setup_s": setup_s, "peak_rss_mb": rss, "output": r["sig"], "failures": r["fails"]}
    if args.trace:
        from eventlog import summarize

        m = layer_metrics(summarize(event_dir), r["layers"], n)
        shutil.rmtree(event_dir)
        # ingest: batch 0 is the untraced warm-up, odd batches are traced
        untraced_s = statistics.median(r["walls"][1:] if ingest else r["walls"])
        traced_s = statistics.median(r["traced_walls"])
        m["pipeline.untraced_s"] = (untraced_s, "s")
        m["pipeline.traced_s"] = (traced_s, "s")
        m["pipeline.layer_share"] = (sum(r["layers"].wall.values()) / sum(r["traced_walls"]), "ratio")
        details["tracing_overhead_s"] = traced_s - untraced_s
    else:
        if ingest:
            # the first quarter of the batches carries the fresh JVM's
            # codegen and JIT; one batch alone is too short to time it
            walls = r["walls"]
            first, warm = sum(walls[: len(walls) // 4]), walls[1:]
            pipeline_s = sum(walls)
        else:
            first, warm = r["first"], r["walls"]
            pipeline_s = statistics.median(warm)
        tail_v, tail_p = tail(warm)
        details.update(batch_tail_percentile=tail_p, batch_samples=len(warm), walls_s=warm)
        m = {
            "pipeline_s": (pipeline_s, "s"),
            "first_s": (first, "s"),
            "setup_s": (setup_s, "s"),
            "batch_s_p50": (statistics.median(warm), "s"),
            "batch_s_tail": (tail_v, "s"),
            "pc": (r["sig"]["pc"], "ratio"),
            "pq": (r["sig"]["pq"], "ratio"),
        }
    print(json.dumps(details, sort_keys=True))
    print(json.dumps({
        "correct": r["failed"] == 0,
        "attempted": r["attempted"],
        "failed": r["failed"],
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in m.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
