"""The repository benchmark: production KG builds and the downstream query
corpus on seeded synthetic corpora, with a correctness gate on every timed
operation.

    python3 perfbench/run.py --workload weekly_sf0.01 --seed 1 \\
        --seconds 1 --trace 0

Run it from the repository root. A ``--trace 0`` run:

1. generates the workload's corpus from ``--seed`` and computes the
   reference-semantics oracle for it (neither is timed);
2. starts a Spark session at local[4] (``setup_s``);
3. runs the production runner once in that fresh session
   (``first_build_s``, ``triples_per_s``), as a weekly spark-submit does;
4. loads the built graph through the endpoint view and runs the 12
   consumer queries in a closed loop with one client, in seeded shuffled
   rounds, whole rounds until ``--seconds`` have passed (``queries_per_s``);
   ``peak_rss_mb`` covers steps 3-4;
5. checks every output, prints every metric with its unit, then one JSON
   line.

A round of the 12 queries takes 5-15 s on a 4-vCPU host, so at
``--seconds 1`` a run times exactly one build and one round. The median
and 95th percentile of the round's 12 latencies are printed as ``info``
lines but are not bounded metrics: 12 samples hold no 95th percentile, and
their median moved 0.11-0.24 (interquartile range over median, 10 seeds)
while ``queries_per_s`` moved 0.07-0.18.

A ``--trace 1`` run drives each layer through its public functions under
spans and Spark's event log, then runs one traced and one untraced
production build, and prints the per-layer metrics (tracing.py; the layer
to end-to-end mapping is in layers.json).
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shlex
import shutil
import signal
import statistics
import sys
import tempfile
import threading
import time
from dataclasses import dataclass

import gate

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench-work")
CPUS = 4
HEAP = "3g"
# A run must end within 180 s; stop a little earlier.
DEADLINE_S = 170


@dataclass(frozen=True)
class Workload:
    scale: int
    text_mult: int


WORKLOADS = {
    "weekly_sf0.01": Workload(scale=14, text_mult=1),
    "longtext_sf0.01x8": Workload(scale=14, text_mult=8),
}

E2E_UNITS = {"setup_s": "s", "first_build_s": "s",
             "triples_per_s": "triples/s", "queries_per_s": "queries/s",
             "peak_rss_mb": "MB"}


def prepare_env(trace: bool) -> None:
    """Keep every file the run writes inside the checkout, and put the
    repository on the Python workers' path (the UDFs import it)."""
    tmp = os.path.join(WORK, "tmp")
    logs = os.path.join(WORK, "eventlog")
    shutil.rmtree(logs, ignore_errors=True)
    for d in (tmp, logs, os.path.join(WORK, "spark-local")):
        os.makedirs(d, exist_ok=True)
    env = os.environ
    env["TMPDIR"] = tmp
    env["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, env.get("PYTHONPATH")) if p)
    env["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    env["SPARK_DRIVER_MEMORY"] = HEAP
    # a master or docs-table override inherited from the caller would
    # change what is measured
    env.pop("SPARK_MASTER", None)
    env.pop("AOPWIKI_DOCS_TABLE", None)
    # -XX:-UsePerfData: no hsperfdata file under the system /tmp. The heap
    # is committed and touched at start-up, so peak_rss_mb does not depend
    # on when G1 happens to grow it (1.9-2.8 GB JVM RSS across runs
    # otherwise); what moves it is native, off-heap and Python memory.
    jopts = (f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData "
             f"-Xms{HEAP} -XX:+AlwaysPreTouch")
    args = ["--driver-java-options", jopts]
    if trace:
        # one plain JSON-lines file (Spark 4 defaults to rolling zstd logs)
        for conf in ("spark.eventLog.enabled=true",
                     f"spark.eventLog.dir=file://{logs}",
                     "spark.eventLog.compress=false",
                     "spark.eventLog.rolling.enabled=false"):
            args += ["--conf", conf]
    env["PYSPARK_SUBMIT_ARGS"] = shlex.join(args + ["pyspark-shell"])
    tempfile.tempdir = tmp
    sys.path.insert(0, ROOT)


def process_tree(root: int) -> list[tuple[int, int]]:
    """(pid, parent pid) of ``root`` and all its live descendants."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if fields[0] != "Z":
            children.setdefault(int(fields[1]), []).append(int(d))
    tree, stack = [], [(root, 0)]
    while stack:
        pid, ppid = stack.pop()
        tree.append((pid, ppid))
        stack.extend((c, pid) for c in children.get(pid, ()))
    return tree


def _exe(pid: int) -> str:
    try:
        return os.path.basename(os.readlink(f"/proc/{pid}/exe"))
    except OSError:
        return ""


def tree_rss(root: int) -> int:
    """Summed RSS of the tree, leaving out the JVM's transient spawn copies
    (a child of the JVM still running java or jspawnhelper shares the JVM's
    pages until it execs; counting it would double the JVM)."""
    total = 0
    for pid, ppid in process_tree(root):
        if _exe(pid) in ("java", "jspawnhelper") and _exe(ppid) == "java":
            continue
        try:
            with open(f"/proc/{pid}/statm") as fh:
                total += int(fh.read().split()[1])
        except OSError:
            pass
    return total * os.sysconf("SC_PAGE_SIZE")


class PeakRss:
    """Peak RSS of this process and its descendants (the JVM and the Python
    workers), sampled every 100 ms while active."""

    def __init__(self):
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _sample(self):
        self.peak = max(self.peak, tree_rss(os.getpid()))

    def _loop(self):
        while not self._stop.wait(0.1):
            self._sample()

    def __enter__(self):
        self._sample()
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self._sample()


def stop_spark(spark) -> None:
    """Stop the session, end the JVM (it exits when the gateway's stdin
    closes) and wait until every process it started has exited."""
    from pyspark import SparkContext
    gateway = SparkContext._gateway
    started = [p for p, _ in process_tree(os.getpid()) if p != os.getpid()]
    try:
        spark.stop()
    finally:
        if gateway is not None:
            gateway.shutdown()
            gateway.proc.stdin.close()
            try:
                gateway.proc.wait(timeout=60)
            except Exception:
                gateway.proc.kill()
                gateway.proc.wait()
        deadline = time.time() + 30
        while time.time() < deadline and any(_alive(p) for p in started):
            time.sleep(0.1)


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def percentile(xs: list[float], q: int) -> float:
    """Linearly interpolated percentile (numpy's default method)."""
    if len(xs) == 1:
        return xs[0]
    return statistics.quantiles(xs, n=100, method="inclusive")[q - 1]


def make_inputs(name: str, wl: Workload, seed: int):
    """Generate the seeded corpus (kept per seed in the work dir) and return
    (corpus dir, oracle triple set, corpus digest)."""
    from aopwiki_spark.synth.gen import generate_corpus
    corpus = os.path.join(WORK, "corpora",
                          f"{name}-s{wl.scale}x{wl.text_mult}-seed{seed}")
    generate_corpus(corpus, wl.scale, seed=str(seed), text_mult=wl.text_mult)
    return corpus, gate.expected_triples(corpus), gate.corpus_digest(corpus)


def run_queries(spark, triples, seed: int, seconds: float, want: dict):
    """Closed loop, one client: whole rounds of the 12 consumer queries in
    seeded shuffled order until ``seconds`` have passed. Each result must
    equal ``want[query]`` (rows and digest, set on first sight). Returns
    (latencies in ms of passing queries, failures, attempts, loop wall)."""
    from aopwiki_spark.federated import FED_CORPUS
    from aopwiki_spark.sparqlcorpus import CORPUS
    queries = {**CORPUS, **FED_CORPUS}
    lat, failed, attempted, rnd = [], [], 0, 0
    t0 = time.perf_counter()
    while rnd == 0 or time.perf_counter() - t0 < seconds:
        order = sorted(queries)
        random.Random(f"{seed}-{rnd}").shuffle(order)
        for q in order:
            attempted += 1
            t = time.perf_counter()
            try:
                rows = queries[q](spark, triples).collect()
            except Exception as e:  # counted as failed, never skipped
                failed.append(f"{q}: {type(e).__name__}: {e}"[:300])
                continue
            ms = (time.perf_counter() - t) * 1e3
            got = gate.query_summary(rows)
            if got != want.setdefault(q, got):
                failed.append(f"{q}: {got} != {want[q]}")
                continue
            lat.append(ms)
        rnd += 1
    return lat, failed, attempted, time.perf_counter() - t0


def run(name: str, wl: Workload, seed: int, seconds: float, trace: bool
        ) -> dict:
    prepare_env(trace)
    from aopwiki_spark import pipeline as P
    from aopwiki_spark import sparqlcorpus as SC
    from aopwiki_spark.config import production_config
    from aopwiki_spark.session import get_spark

    corpus, expected, cdigest = make_inputs(name, wl, seed)
    records = gate.Records(os.path.join(WORK, "records.json"))
    rec = records.entry(f"{name}/{wl.scale}x{wl.text_mult}/seed{seed}",
                        {"corpus": cdigest, "queries": {}})
    # failure messages, and the number of operations that failed
    failures, failed = [], 0
    corpus_errs = ([] if rec["corpus"] == cdigest else
                   [f"corpus digest {cdigest} != {rec['corpus']}"])
    cfg = production_config()
    out = os.path.join(WORK, "out")
    shutil.rmtree(out, ignore_errors=True)
    build_dir = os.path.join(out, "build")

    t0 = time.time()
    spark = get_spark("perfbench", cpus=CPUS)
    setup_s = time.time() - t0
    try:
        if trace:
            import tracing
            tr = tracing.Tracer(spark.sparkContext)
            tr.spans.append({"name": "session", "start": t0,
                             "end": t0 + setup_s, "parent": None,
                             "group": False})
            counts = tracing.drive_layers(
                spark, corpus, os.path.join(out, "drive"), cfg, tr)
            jsc = spark.sparkContext._jsc
            persisted = jsc.getPersistentRDDs().size()
            with tr.span("pipeline.build", group=True) as sp:
                manifest = P.run_pipeline_checkpointed(spark, corpus,
                                                       build_dir, config=cfg)
            builds = {"traced_s": sp["end"] - sp["start"],
                      "persist_leaked":
                          jsc.getPersistentRDDs().size() - persisted}
            t = time.perf_counter()
            untraced = P.run_pipeline_checkpointed(
                spark, corpus, os.path.join(out, "untraced"), config=cfg)
            builds["untraced_s"] = time.perf_counter() - t
            outputs = [(build_dir, manifest),
                       (os.path.join(out, "untraced"), untraced)]
        else:
            with PeakRss() as rss:
                t = time.perf_counter()
                manifest = P.run_pipeline_checkpointed(spark, corpus,
                                                       build_dir, config=cfg)
                first_build_s = time.perf_counter() - t
                triples = spark.read.parquet(
                    os.path.join(build_dir, "triples"))
                SC.endpoint_view(triples).count()
                lat, q_failed, q_attempted, loop_s = run_queries(
                    spark, triples, seed, seconds, rec["queries"])
            SC.evict_view(triples)
            outputs = [(build_dir, manifest)]
            failures += q_failed
            failed += len(q_failed)
    finally:
        stop_spark(spark)

    errs = corpus_errs  # a changed corpus fails the first build
    for build, built in outputs:
        got = gate.read_triples(build)
        errs += gate.check_build(got, expected, rec.get("build"))
        errs += gate.check_counts(build, got, built["graphs"])
        rec.setdefault("build", gate.build_summary(got))
        failed += bool(errs)
        failures += errs
        errs = []
    attempted = len(outputs) + (0 if trace else q_attempted)
    info = []
    if trace:
        groups = tracing.read_event_log(os.path.join(WORK, "eventlog"), tr)
        tr.write(os.path.join(WORK, f"spans-{name}-seed{seed}.json"))
        metrics = {k: (v, tracing.unit_of(k)) for k, v in
                   tracing.layer_metrics(tr, groups, counts, builds,
                                         CPUS).items()}
    else:
        if not lat:
            raise RuntimeError(f"every query failed: {failures[:3]}")
        metrics = {
            "setup_s": setup_s,
            "first_build_s": first_build_s,
            "triples_per_s": manifest["total_triples"] / first_build_s,
            "queries_per_s": len(lat) / loop_s,
            "peak_rss_mb": rss.peak / 1e6,
        }
        metrics = {k: (v, E2E_UNITS[k]) for k, v in metrics.items()}
        info += [f"query_p50_ms {percentile(lat, 50):.6g} ms (n={len(lat)})",
                f"query_p95_ms {percentile(lat, 95):.6g} ms (n={len(lat)})"]
    if not failures:
        records.save()
    return {"metrics": metrics, "info": info, "attempted": attempted,
            "failed": failed, "failures": failures}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=int,
                    help="override the workload's corpus scale (smoke test)")
    args = ap.parse_args(argv)
    wl = WORKLOADS[args.workload]
    if args.scale is not None:
        wl = Workload(scale=args.scale, text_mult=wl.text_mult)

    def on_alarm(*_):
        raise TimeoutError(f"run exceeded {DEADLINE_S} s")
    signal.signal(signal.SIGALRM, on_alarm)
    signal.alarm(DEADLINE_S)
    res = run(args.workload, wl, args.seed, args.seconds, bool(args.trace))
    signal.alarm(0)

    for f in res["failures"]:
        print(f"FAILED {f}")
    for k, (v, unit) in res["metrics"].items():
        print(f"metric {k} {v:.6g} {unit}")
    print(f"metric failed_frac {res['failed'] / res['attempted']:.6g} ratio")
    for line in res["info"]:
        print(f"info {line}")
    print(json.dumps({
        "correct": not res["failures"],
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {k: {"value": v, "unit": u}
                    for k, (v, u) in res["metrics"].items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
