#!/usr/bin/env python3
"""The engine's benchmark: end-to-end metrics of one workload or, with
``--trace 1``, its per-layer breakdown.

    python3 perfbench/run.py --workload headline --seed 1 --seconds 20 --trace 0

Run it from the root of a checkout; ``perfbench/selftest.py`` tests it.

Workloads (``WORKLOADS``):

- ``headline``: six ``bench.HEADLINE`` queries (checked against that list,
  so the two cannot drift apart) on sf0.01-sized inputs, one client, noop
  sink. Fixed per-query cost dominates: plan build, eager materialization
  passes, job scheduling, Python-worker start-up, a streaming trigger.
- ``server``: the REST ``JobServer`` in its own process, driven by a closed
  loop of ``nproc`` clients; each submits a short query (``limit`` 100) and
  polls its status until it is done, as the reference's clients do.

A run makes its inputs from ``--seed`` (``gen.py``; cached under
``.bench_data/``) and starts the engine in a child process (``engine.py``),
cold. ``setup_s`` is the median of ``SETUPS`` such cold set-ups, each timed
from its process's own start: the workload's engine and engines that stop
once set up. The run warms the engine up untimed and then passes over the
queries in seeded order until ``--seconds`` have passed. The outputs of the
checked warm-up round (headline) or of every job (server) are compared with
the queries' DuckDB oracles through ``tests/harness.py``'s canonicalization;
a mismatch counts as failed and the command exits 1.

The last stdout line is one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``. The run context (steal ticks, load, versions,
peak RSS, time per phase) goes to stderr and, with every sample, to
``.bench_work/runs/``. With ``--trace 1`` a second window of ``--seconds``
runs under ``layers.Tracer``; the per-layer metrics are printed instead, and
the record also keeps the per-layer table per query, the spans and the
tracing overhead (traced minus untraced ``total_s``).
"""

from __future__ import annotations

import argparse
import http.client
import itertools
import json
import math
import os
import statistics
import subprocess
import sys
import tempfile
import threading
import time
from dataclasses import dataclass

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [p for p in (HERE, ROOT) if p not in sys.path]

import engine  # noqa: E402
import gen  # noqa: E402
import layers  # noqa: E402

WORK = os.path.join(ROOT, ".bench_work")
POLL_S = 0.05  # server clients' status-poll interval
SETUPS = 2  # cold set-ups per run; setup_s is their median


@dataclass(frozen=True)
class Workload:
    queries: tuple[str, ...]
    rel: int  # replicas of the relational and event tables (gen.py)
    server: bool = False


WORKLOADS = {
    "headline": Workload(
        ("wordcount", "topk", "tpch_q9", "triangle_count",
         "dedup_unicode_normalized", "stream_event_window"),
        rel=10),
    # results of at most 100 rows, so the limit-100 answer is the whole one
    "server": Workload(
        ("agg_basic", "join_star", "topk", "text_stats", "join_broadcast",
         "heavy_hitters", "percentile_agg", "auc_roc", "wordcount",
         "sequence_pack"),
        rel=10, server=True),
}

END_TO_END = (
    ("setup_s", "s"), ("total_s", "s"), ("query_geomean_s", "s"),
    ("ops_per_s", "1/s"),
)
PER_LAYER = (
    ("session.start_s", "s"), ("registry.load_s", "s"),
    ("build.s", "s"), ("action.s", "s"),
    ("materialize.jobs", "count"), ("materialize.exec_s", "s"),
    ("action.jobs", "count"), ("action.stages", "count"), ("action.tasks", "count"),
    ("exec.run_s", "s"), ("exec.cpu_s", "s"), ("exec.gc_s", "s"),
    ("exec.busy_share", "ratio"),
    ("scan.input_bytes", "bytes"), ("scan.input_records", "count"),
    ("scan.records_per_output_row", "ratio"),
    ("shuffle.write_bytes", "bytes"), ("shuffle.read_bytes", "bytes"),
    ("shuffle.records", "count"), ("shuffle.fetch_wait_s", "s"),
    ("spill.bytes", "bytes"),
    ("python.udf_s", "s"), ("python.rows", "count"), ("python.bytes", "bytes"),
    ("stream.batches", "count"), ("stream.input_rows", "count"),
    ("stream.batch_s", "s"), ("stream.state_rows", "count"),
    ("server.submit_s", "s"), ("server.queue_wait_s", "s"), ("server.run_s", "s"),
    ("server.polls_per_job", "count"),
)


# -- run context ----------------------------------------------------------------

def steal_ticks() -> int:
    with open("/proc/stat") as f:
        return int(f.readline().split()[8])


def git_commit() -> str | None:
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                             capture_output=True, text=True, timeout=10)
    except OSError:
        return None
    return out.stdout.strip() if out.returncode == 0 else None


class PeakRss(threading.Thread):
    """Peak resident memory of a process tree, sampled from /proc."""

    def __init__(self, root: int, interval: float = 0.2):
        super().__init__(daemon=True)
        self.root, self.interval = root, interval
        self.peak = 0
        self._done = threading.Event()
        self._page = os.sysconf("SC_PAGE_SIZE")

    def _tree(self) -> list[int]:
        pids, todo = [], [self.root]
        while todo:
            pid = todo.pop()
            pids.append(pid)
            try:
                for tid in os.listdir(f"/proc/{pid}/task"):
                    with open(f"/proc/{pid}/task/{tid}/children") as f:
                        todo.extend(int(c) for c in f.read().split())
            except OSError:
                pass  # exited while walking
        return pids

    def sample(self) -> None:
        total = 0
        for pid in self._tree():
            try:
                with open(f"/proc/{pid}/statm") as f:
                    total += int(f.read().split()[1]) * self._page
            except OSError:
                pass
        self.peak = max(self.peak, total)

    def run(self) -> None:
        while not self._done.wait(self.interval):
            self.sample()

    def stop(self) -> float:
        """Stop sampling (idempotent); the peak in MiB."""
        if not self._done.is_set():
            self._done.set()
            self.join()
            self.sample()
        return self.peak / 2**20


# -- output checks ------------------------------------------------------------------

def canon(pdf) -> dict:
    """A query output canonicalized as ``tests/harness.py`` does, in the
    JSON form the headline engine sends its outputs in."""
    from tests import harness

    return {"columns": sorted(pdf.columns),
            "rows": [list(r) for r in harness._canon_rows(pdf)]}


class Oracle:
    """Expected outputs per query: its DuckDB oracle, canonicalized."""

    def __init__(self, sf_dir: str):
        from pythonmapreduce_spark.plans import registry
        from tests import harness

        registry.load_all()
        self.registry, self.harness, self.sf_dir, self.want = registry, harness, sf_dir, {}

    def matches(self, query: str, got: dict) -> bool:
        if query not in self.want:
            con = self.harness.duckdb_con(self.sf_dir)
            try:
                self.want[query] = canon(con.sql(self.registry.ORACLES[query]).df())
            finally:
                con.close()
        ok = got == self.want[query]
        if not ok:
            print(f"check: {query} differs from its oracle", file=sys.stderr)
        return ok


# -- the engine's processes -----------------------------------------------------------

class Engine:
    """An engine child process (``engine.py``), set up cold; ``ready`` holds
    its set-up timings. Leaving the ``with`` block closes its stdin and
    waits until it, its JVM and its Python workers have exited."""

    def __init__(self, mode: str, *flags: str):
        self.proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "engine.py"), mode, *flags],
            stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True, cwd=ROOT)
        try:
            self.ready = self.read()
        except BaseException:
            self.close()
            raise

    def read(self) -> dict:
        line = self.proc.stdout.readline()
        if not line:
            raise RuntimeError("engine.py exited without an answer")
        return json.loads(line)

    def ask(self, cmd: dict) -> dict:
        self.proc.stdin.write(json.dumps(cmd) + "\n")
        self.proc.stdin.flush()
        return self.read()

    def close(self) -> None:
        try:
            self.proc.stdin.close()
        except BrokenPipeError:
            pass
        try:
            self.proc.wait(timeout=120)
        except subprocess.TimeoutExpired:
            self.proc.kill()
            self.proc.wait()
        self.proc.stdout.close()

    def __enter__(self) -> "Engine":
        return self

    def __exit__(self, *exc) -> None:
        self.close()


def setup_samples(mode: str, n: int) -> list[dict]:
    """Set-up timings of ``n`` engines that stop once set up."""
    samples = []
    for _ in range(n):
        with Engine(mode, "--setup-only") as eng:
            samples.append(eng.ready)
    return samples


# -- workloads ----------------------------------------------------------------------

def summarize(ops: list[tuple[str, float]], elapsed: float) -> dict:
    """End-to-end figures from (query, seconds) operations."""
    samples: dict[str, list[float]] = {}
    for q, s in ops:
        samples.setdefault(q, []).append(s)
    medians = {q: statistics.median(v) for q, v in samples.items()}
    times = [s for _, s in ops]
    return {
        "total_s": sum(medians.values()),
        "query_geomean_s": math.exp(statistics.fmean(map(math.log, medians.values()))),
        "ops_per_s": len(ops) / elapsed,
        "latency_p50_s": statistics.median(times),
        "latency_p90_s": statistics.quantiles(times, n=10)[-1],
        "ops": len(ops),
        "samples_s": samples,
    }


def run_queries(eng: Engine, wl: Workload, sf_dir: str, seed: int, seconds: float,
                trace: bool, drop_row: tuple[str, ...]) -> dict:
    res = eng.ask({"run": {"queries": list(wl.queries), "sf_dir": sf_dir, "seed": seed,
                           "seconds": seconds, "trace": trace,
                           "drop_row": list(drop_row)}})
    out = {**summarize(res["ops"], res["elapsed"]), "marks": res["marks"],
           "checked": list(res["checked"].items())}
    if trace:
        out.update(traced=summarize(res["traced_ops"], res["traced_elapsed"]),
                   trace_ops=res["trace_ops"], spans=res["spans"], client_jobs={})
    out["attempted"] = len(out["checked"]) + len(res["ops"]) + len(res.get("traced_ops", ()))
    return out


def drive_server(port: int, sf_dir: str, plans: list[list[str]],
                 deadline: float | None) -> list[dict]:
    """Closed loop: one thread per client, each submitting the queries of
    its plan in turn (cycling until ``deadline``, or once through if it is
    None) and polling each job's status until the job is done."""
    jobs: list[dict] = []
    lock = threading.Lock()
    errors: list[BaseException] = []

    def call(conn, method: str, path: str, body: dict | None = None):
        conn.request(method, path, body=json.dumps(body) if body else None,
                     headers={"Content-Type": "application/json"})
        resp = conn.getresponse()
        return resp.status, json.loads(resp.read())

    def client(plan: list[str]) -> None:
        conn = http.client.HTTPConnection("127.0.0.1", port, timeout=120)
        try:
            for i in range(len(plan)) if deadline is None else itertools.count():
                if deadline is not None and time.perf_counter() >= deadline:
                    return
                q = plan[i % len(plan)]
                t0 = time.perf_counter()
                code, sub = call(conn, "POST", "/jobs",
                                 {"query": q, "sf_dir": sf_dir, "limit": 100})
                t_sub = time.perf_counter()
                if code != 202:
                    raise RuntimeError(f"submit {q}: {code} {sub}")
                polls = 0
                while True:
                    _, st = call(conn, "GET", f"/jobs/{sub['job_id']}/status")
                    polls += 1
                    if st["status"] in ("COMPLETED", "FAILED"):
                        break
                    time.sleep(POLL_S)
                with lock:
                    jobs.append({"query": q, "job_id": sub["job_id"], "start": t0,
                                 "submitted": t_sub, "end": time.perf_counter(),
                                 "polls": polls, **st})
        except BaseException as e:  # noqa: BLE001 — re-raised below
            errors.append(e)
        finally:
            conn.close()

    threads = [threading.Thread(target=client, args=(p,)) for p in plans]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    if errors:
        raise errors[0]
    return jobs


def rotations(qs: list[str], n: int) -> list[list[str]]:
    """``qs`` from each of ``n`` evenly spaced places in it."""
    return [qs[k * len(qs) // n:] + qs[:k * len(qs) // n] for k in range(n)]


def run_server(eng: Engine, wl: Workload, sf_dir: str, seed: int, seconds: float,
               trace: bool, drop_row: tuple[str, ...]) -> dict:
    import numpy as np
    import pandas as pd

    if drop_row:
        raise ValueError("drop_row is only supported on the headline workload")
    port, qs, n = eng.ready["port"], list(wl.queries), engine.nproc()
    rng = np.random.default_rng(seed)

    def window() -> tuple[list[dict], float]:
        # one seeded cycle, each client starting at its own place in it,
        # so concurrent clients run different queries
        cycle = [str(q) for q in rng.permutation(qs)]
        start = time.perf_counter()
        jobs = drive_server(port, sf_dir, rotations(cycle, n), start + seconds)
        return jobs, max(j["end"] for j in jobs) - start

    def ops(jobs: list[dict]) -> list[tuple[str, float]]:
        return [(j["query"], j["end"] - j["start"]) for j in jobs]

    # warm-up: every client runs every query once, from its own place in
    # the list, as the headline warm-up runs a pass on each of nproc threads
    jobs = drive_server(port, sf_dir, rotations(qs, n), None)
    marks = {"warmup": time.perf_counter()}
    window_jobs, elapsed = window()
    marks["window"] = time.perf_counter()
    out = summarize(ops(window_jobs), elapsed)
    jobs += window_jobs
    if trace:
        eng.ask({"trace": True})
        traced, traced_elapsed = window()
        server = eng.ask({"dump": True})
        spans = server["spans"]
        for j in traced:
            root = f"c{len(spans)}"
            spans.append({"id": root, "name": "client.job", "start": j["start"],
                          "end": j["end"], "parent": None, "op": j["job_id"]})
            spans.append({"id": f"c{len(spans)}", "name": "server.submit",
                          "start": j["start"], "end": j["submitted"],
                          "parent": root, "op": j["job_id"]})
        out.update(traced=summarize(ops(traced), traced_elapsed),
                   trace_ops=server["ops"], spans=spans,
                   client_jobs={j["job_id"]: j for j in traced})
        jobs += traced
        marks["traced_window"] = time.perf_counter()
    out["marks"] = marks
    out["checked"] = [
        (j["query"], None if j["status"] != "COMPLETED"
         else canon(pd.DataFrame(j["rows"], columns=j["columns"])))
        for j in jobs]
    out["attempted"] = len(jobs)
    return out


# -- per-layer metrics ----------------------------------------------------------------

def layer_table(out: dict) -> dict:
    """Every per-layer figure for one pass over the workload's queries."""
    ops = out["trace_ops"]
    client = out["client_jobs"]
    table = {k: out["setup"][k] for k in ("session.start_s", "registry.load_s")}
    table["build.s"] = layers.per_pass(ops, lambda o: o["built"] - o["start"])
    table["action.s"] = layers.per_pass(ops, lambda o: o["end"] - o["built"])
    for key in ops[0]["counters"]:
        table[key] = layers.per_pass(ops, lambda o, k=key: o["counters"].get(k, 0))
    for key in layers.STREAM_FIELDS:
        table.setdefault(key, 0)
    wall = layers.per_pass(ops, lambda o: o["end"] - o["start"])
    table["exec.busy_share"] = table["exec.run_s"] / (wall * engine.nproc())
    table["scan.records_per_output_row"] = (
        table["scan.input_records"] / max(sum(out["out_rows"].values()), 1))
    mine = [o for o in ops if o["op"] in client]
    table["server.submit_s"] = layers.per_pass(
        mine, lambda o: client[o["op"]]["submitted"] - client[o["op"]]["start"])
    # from the server's own receipt of the job to the start of its run
    table["server.queue_wait_s"] = layers.per_pass(
        mine, lambda o: o["start"] - o["submitted"])
    table["server.run_s"] = layers.per_pass(mine, lambda o: o["end"] - o["start"])
    table["server.polls_per_job"] = (
        statistics.fmean(j["polls"] for j in client.values()) if client else 0)
    table["trace.overhead_s"] = out["traced"]["total_s"] - out["total_s"]
    return table


def per_query_layers(ops: list[dict]) -> dict:
    """The per-layer counters of each query, for attribution."""
    return {q: {k: layers.per_pass([o for o in ops if o["query"] == q],
                                   lambda o, k=k: o["counters"].get(k, 0))
                for k in ops[0]["counters"]}
            for q in sorted({o["query"] for o in ops})}


# -- main -------------------------------------------------------------------------------

def isolate() -> None:
    """Keep every file Spark, the JVM and Python write inside the checkout."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    # PerfDisableSharedMem: no hsperfdata file under /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:+PerfDisableSharedMem"


def main(argv: list[str] | None = None, workloads: dict = WORKLOADS,
         drop_row: tuple[str, ...] = ()) -> int:
    """``drop_row`` names headline queries whose output loses one row, to
    test the output check."""
    t_start = time.perf_counter()
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    wl = workloads[args.workload]

    import bench  # the engine's headline list, at the checkout root

    if not wl.server and not set(wl.queries) <= set(bench.HEADLINE):
        raise SystemExit(f"not in bench.HEADLINE: {set(wl.queries) - set(bench.HEADLINE)}")
    isolate()
    context = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
               "trace": args.trace, "nproc": engine.nproc(),
               "load_avg_start": os.getloadavg()[0], "git_commit": git_commit()}
    steal0 = steal_ticks()
    t0 = time.perf_counter()
    sf_dir = gen.ensure(os.path.join(ROOT, ".bench_data"), args.seed, wl.rel)
    context.update(inputs=sf_dir, gen_s=time.perf_counter() - t0, input_bytes=sum(
        os.path.getsize(os.path.join(sf_dir, f)) for f in os.listdir(sf_dir)))

    mode = "serve" if wl.server else "queries"
    marks = {"start": time.perf_counter()}
    samples = setup_samples(mode, SETUPS - 1)
    marks["setup_samples"] = time.perf_counter()
    with Engine(mode) as eng:
        marks["setup"] = time.perf_counter()
        samples.append(eng.ready)
        rss = PeakRss(eng.proc.pid)
        rss.start()
        try:
            run = run_server if wl.server else run_queries
            out = run(eng, wl, sf_dir, args.seed, args.seconds, bool(args.trace), drop_row)
        finally:
            peak_rss_mb = rss.stop()
    marks.update(out.pop("marks"))
    marks["stop"] = time.perf_counter()
    oracle = Oracle(sf_dir)
    failed = sum(got is None or not oracle.matches(q, got) for q, got in out["checked"])
    marks["check"] = time.perf_counter()
    # one output of each query, for scan.records_per_output_row
    out["out_rows"] = {q: len(got["rows"]) for q, got in out["checked"] if got}
    out["setup"] = {k: statistics.median(s[k] for s in samples)
                    for k in ("setup_s", "session.start_s", "registry.load_s")}

    import duckdb
    import pyspark

    marks = sorted(marks.items(), key=lambda m: m[1])
    context.update(
        steal_ticks_delta=steal_ticks() - steal0, load_avg_end=os.getloadavg()[0],
        pyspark=pyspark.__version__, duckdb=duckdb.__version__,
        java=samples[-1]["java"], ops=out["ops"], peak_rss_mb=peak_rss_mb,
        latency_p50_s=out["latency_p50_s"], latency_p90_s=out["latency_p90_s"],
        phases_s={b: tb - ta for (_, ta), (b, tb) in zip(marks, marks[1:])},
        run_s=time.perf_counter() - t_start)
    figures = {**out, "setup_s": out["setup"]["setup_s"]}
    metrics = {name: {"value": figures[name], "unit": unit} for name, unit in END_TO_END}
    record = {"context": context, "end_to_end": metrics, "samples_s": out["samples_s"],
              "setup_samples": samples, "attempted": out["attempted"], "failed": failed}
    if args.trace:
        table = layer_table(out)
        metrics = {name: {"value": table[name], "unit": unit} for name, unit in PER_LAYER}
        record.update(per_layer=table, per_query=per_query_layers(out["trace_ops"]),
                      traced_samples_s=out["traced"]["samples_s"],
                      ops=out["trace_ops"], spans=out["spans"])
    runs = os.path.join(WORK, "runs")
    os.makedirs(runs, exist_ok=True)
    path = os.path.join(runs, f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}.json")
    with open(path, "w") as f:
        json.dump(record, f, default=str)
    print(json.dumps({"context": context, "record": path}), file=sys.stderr)
    print(json.dumps({"correct": failed == 0, "attempted": out["attempted"],
                      "failed": failed, "metrics": metrics}), flush=True)
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
