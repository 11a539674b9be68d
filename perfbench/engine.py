"""The engine under test, in a process of its own.

``run.py`` starts the engine of every workload run as a child process:

    python3 perfbench/engine.py queries   # headline: one client, noop sink
    python3 perfbench/engine.py serve     # server: the REST JobServer

Each sets up cold, the way every CLI run does: import the engine,
``session.get_spark`` and ``registry.load_all``, and for ``serve`` the REST
server listening. The set-up is timed from the process's own start, so the
interpreter and the imports count too, and it means the same on every
workload. The child then prints one JSON line with the timings and reads
commands from stdin, one JSON line each:

- ``queries``: ``{"run": spec}`` runs the headline workload (``run_queries``)
  and answers with one JSON line.
- ``serve``: ``{"trace": true}`` installs per-job tracing
  (``layers.Tracer``) around the server's calls into the query functions,
  ``{"dump": true}`` prints the traced jobs.

End of input shuts the server and Spark down.

With ``--setup-only`` the child sets up, prints its timings and stops: a
further sample of ``setup_s``.
"""

from __future__ import annotations

import time

T0 = time.perf_counter()

import json  # noqa: E402
import os  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import threading  # noqa: E402
from concurrent.futures import ThreadPoolExecutor  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
_REPLY = sys.stdout  # the answers to run.py; main points fd 1 at stderr


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def setup(t0: float):
    """Start the engine in this process; returns (spark, timings)."""
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    from pythonmapreduce_spark.session import get_spark

    spark = get_spark("perfbench", cpus=str(nproc()))
    t1 = time.perf_counter()
    from pythonmapreduce_spark.plans import registry

    registry.load_all()
    t2 = time.perf_counter()
    return spark, {"setup_s": t2 - t0, "session.start_s": t1 - t0,
                   "registry.load_s": t2 - t1}


def stop(spark) -> None:
    """Stop Spark and wait for its JVM, and so its Python workers, to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        proc = gateway.proc
        gateway.shutdown()
        # the gateway JVM exits when its stdin closes
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None


def say(msg: dict) -> None:
    print(json.dumps(msg), file=_REPLY, flush=True)


def commands():
    """The JSON commands on stdin, until it closes."""
    for line in sys.stdin:
        if line.strip():
            yield json.loads(line)


# -- headline: one client, noop sink --------------------------------------------------

def run_queries(spark, spec: dict) -> dict:
    """Warm up, then time passes over ``spec["queries"]`` in seeded order.

    The warm-up is one untimed pass on each of ``nproc`` threads: the JVM
    keeps compiling the engine's code for a minute and more, faster the
    more calls it sees, and a lone client would take several times as long
    to make as many. Each query's output is collected once there and
    canonicalized as ``tests/harness.py`` does, for the output check. The
    window then passes over the queries until ``spec["seconds"]`` have
    passed; with ``spec["trace"]`` a second window runs under
    ``layers.Tracer``. ``spec["drop_row"]`` names queries whose output
    loses one row, to test the output check.
    """
    import numpy as np

    from layers import Tracer
    from pythonmapreduce_spark.plans import registry
    from tests import harness

    sf_dir, seconds = spec["sf_dir"], spec["seconds"]
    rng = np.random.default_rng(spec["seed"])
    query = dict(registry.QUERIES)
    for q in spec.get("drop_row", ()):
        def drop_one_row(spark_, sf_dir_, fn=query[q]):
            df = fn(spark_, sf_dir_)
            return df.limit(df.count() - 1)
        query[q] = drop_one_row

    def check(q: str):
        try:
            pdf = query[q](spark, sf_dir).toPandas()
        except Exception as e:  # noqa: BLE001 — counted, the run goes on
            print(f"check: {q} failed: {e!r}", file=sys.stderr)
            return None
        return {"columns": sorted(pdf.columns), "rows": harness._canon_rows(pdf)}

    def window(tracer, span: float):
        """Passes over the queries in seeded order until ``span`` seconds
        have passed and every query has run; the (query, seconds) of each
        operation."""
        ops, start = [], time.perf_counter()
        while True:
            for q in rng.permutation(spec["queries"]):
                q = str(q)
                t0 = time.perf_counter()
                op = tracer.begin(q) if tracer else None
                df = query[q](spark, sf_dir)
                if tracer:
                    tracer.built(op)
                df.write.mode("overwrite").format("noop").save()
                ops.append((q, time.perf_counter() - t0))
                if tracer:
                    tracer.end(op)
                elapsed = time.perf_counter() - start
                if elapsed >= span and len(ops) >= len(spec["queries"]):
                    return ops, elapsed

    def warm(k: int) -> dict:
        """Thread k's pass: it checks the k-th of ``nproc`` slices of the
        query list, then runs the other queries."""
        qs, n = spec["queries"], nproc()
        start, stop = k * len(qs) // n, (k + 1) * len(qs) // n
        checked = {q: check(q) for q in qs[start:stop]}
        for q in qs[stop:] + qs[:start]:
            query[q](spark, sf_dir).write.mode("overwrite").format("noop").save()
        return checked

    checked = {}
    with ThreadPoolExecutor(nproc()) as pool:
        for part in pool.map(warm, range(nproc())):
            checked.update(part)
    out = {"checked": checked, "marks": {"warmup": time.perf_counter()}}
    out["ops"], out["elapsed"] = window(None, seconds)
    out["marks"]["window"] = time.perf_counter()
    if spec["trace"]:
        tracer = Tracer(spark)
        tracer.listen_streams(spark)
        out["traced_ops"], out["traced_elapsed"] = window(tracer, seconds)
        tracer.stop_listening(spark)
        tracer.attribute_streams()
        out.update(trace_ops=tracer.ops, spans=tracer.spans)
        out["marks"]["traced_window"] = time.perf_counter()
    return out


def queries(spark) -> None:
    for cmd in commands():
        if "run" in cmd:
            say(run_queries(spark, cmd["run"]))


# -- server: the REST JobServer ---------------------------------------------------------

def _install_tracing(job_srv, registry, tracer) -> None:
    """Wrap the server's job runner and the query functions it calls."""
    submitted: dict[str, float] = {}
    current = threading.local()
    submit, run = job_srv.submit, job_srv._run

    def traced_submit(*args, **kwargs):
        t = time.perf_counter()
        job = submit(*args, **kwargs)
        submitted[job.job_id] = t
        return job

    def traced_run(job):
        current.op = tracer.begin(job.name, op_id=job.job_id,
                                  submitted=submitted.get(job.job_id))
        try:
            run(job)
        finally:
            current.op["status"] = job.status
            current.op["rows"] = len(job.rows or ())
            tracer.end(current.op)

    def traced_query(fn):
        def call(spark_, sf_dir):
            df = fn(spark_, sf_dir)
            tracer.built(current.op)
            return df
        return call

    for name in list(registry.QUERIES):
        registry.QUERIES[name] = traced_query(registry.QUERIES[name])
    job_srv.submit, job_srv._run = traced_submit, traced_run


def serve(spark, httpd, job_srv) -> None:
    from layers import Tracer
    from pythonmapreduce_spark.plans import registry

    tracer = None
    for cmd in commands():
        if cmd.get("trace") and tracer is None:
            tracer = Tracer(spark)
            _install_tracing(job_srv, registry, tracer)
            say({"tracing": True})
        elif cmd.get("dump"):
            say({"ops": tracer.ops if tracer else [],
                 "spans": tracer.spans if tracer else []})


# -- main -------------------------------------------------------------------------------

def main(argv: list[str]) -> int:
    if not argv or argv[0] not in ("queries", "serve") or argv[1:] not in ([], ["--setup-only"]):
        print("usage: engine.py queries|serve [--setup-only]", file=sys.stderr)
        return 2
    mode, setup_only = argv[0], argv[1:] == ["--setup-only"]
    # Keep stdout for the answers alone: whatever else this process, the
    # JVM or the Python workers print goes to stderr.
    global _REPLY
    _REPLY = os.fdopen(os.dup(1), "w")
    os.dup2(2, 1)
    sys.stdout = sys.stderr
    spark, timings = setup(T0)
    httpd = loop = job_srv = None
    try:
        if mode == "serve":
            from pythonmapreduce_spark import server

            httpd, job_srv = server.serve(spark)
            loop = threading.Thread(target=httpd.serve_forever, daemon=True)
            loop.start()
            timings.update(setup_s=time.perf_counter() - T0, port=httpd.server_address[1])
        timings["java"] = spark._jvm.System.getProperty("java.version")
        say(timings)
        if setup_only:
            return 0
        if mode == "serve":
            serve(spark, httpd, job_srv)
        else:
            queries(spark)
    finally:
        if httpd is not None:
            httpd.shutdown()
            httpd.server_close()
            loop.join(timeout=10)
            job_srv._pool.shutdown(wait=True, cancel_futures=True)
        stop(spark)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
