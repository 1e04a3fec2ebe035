#!/usr/bin/env python3
"""The repository benchmark: a consumer following an HTTP feed.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. Workloads (see perfbench/README.md):

  feed_live      the live landing subscription (``ingest.run(catch_up=False)``)
                 drains a backlog, then follows an open-loop event rate
  platform_wave  ``ingest.run_platform`` catch-up waves over a bootstrapped
                 corpus, each followed by the first search

With ``--trace 0`` the last line of output carries the end-to-end
metrics; with ``--trace 1`` a separate run adds spans around calls into
each layer and carries the per-layer metrics. Everything the run writes
stays under ``perfbench/.work``.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
REQUIRED = ("http_feeds_spark/ingest.py", "bench.py", "tests/feed_server.py")

WORKLOADS = ("platform_wave", "feed_live")
E2E = {  # name -> unit
    "setup_s": "s",
    "fresh_p50_s": "s",
    "fresh_tail_s": "s",
    "drain_eps": "1/s",
    "read_s": "s",
    "peak_rss_mb": "MB",
}
HIGHER_BETTER = {"drain_eps"}

# what each end-to-end metric is called on each workload
ALIASES = {
    "feed_live": {"fresh_p50_s": "live_lag_p50_s", "fresh_tail_s": "live_lag_tail_s",
                  "drain_eps": "live_capacity_eps", "read_s": "read_model_s"},
    "platform_wave": {"fresh_p50_s": "store_fresh_p50_s", "fresh_tail_s": "wave_s",
                      "drain_eps": "fold_eps", "read_s": "wave_search_s"},
}

# feed_live: a backlog built while the subscription is down, then an
# open loop below capacity. The long-poll timeout is the live reader's.
LIVE_RATE_EPS = 100
LIVE_BACKLOG = 1000
LIVE_SUBJECTS = 2000
LIVE_DELETE_FRAC = 0.05
LONG_POLL_MS = 500
READ_REPEATS, READ_WARMUP = 10, 5

# platform_wave: one wave is one feed page of the stub's default 100
# events. A cold run_platform call costs about a minute on 4 cores, so a
# run has room for one call; see README.md.
WAVE_NEW, WAVE_UPDATES = 85, 15
CALL_CAP = 6
STREAM_STORES = 4  # landing, text index, dedup index, monitor
SEARCH_TERMS = ["window", "filter", "merge"]
READ_ROWS = ("q_llm_dedup_exact", "q_llm_pipeline")

SPANS = (
    "ingest.run", "ingest.compact_now", "ingest.run_text_index",
    "ingest.run_dedup_index", "ingest.run_monitor", "ingest.run_erasure",
    "ingest.run_maintenance", "ingest.run_platform", "ingest.read_model",
    "epochs.record_epoch", "text_index.search", "text_index.ensure_text_index",
    "dedup.fold_batch",
)
BATCH_PHASES = ("latestOffset", "addBatch", "walCommit", "commitOffsets", "queryPlanning")


def per_layer_names() -> list[str]:
    names = [f"http_feed.{m}" for m in (
        "gets", "empty_gets", "events_served", "bytes_served", "server_s",
        "client_gap_s", "reread_ratio", "generator_late_s")]
    names += [f"ingest.batch.{m}" for m in (
        "batches", "rows_per_batch", *(f"{p}_s" for p in BATCH_PHASES),
        "trigger_s", "idle_s", "start_s")]
    for s in SPANS:
        names += [f"{s}_s", f"{s}.self_s", f"{s}.jobs", f"{s}.driver_gap_s"]
    names.append("ingest.run_platform_calls")
    names += [f"queries.{r}_s" for r in READ_ROWS]
    names += [f"queries.{m}" for m in ("jobs", "driver_gap_s", "exec_s", "shuffle_bytes", "spill_bytes")]
    names += ["pipeline.jobs", "pipeline.driver_gap_s", "session.start_s", "spark.gc_s",
              "spark.heap_peak_mb"]
    names += [f"trace.overhead.{m}" for m in E2E]
    return names


def per_layer_units() -> dict[str, str]:
    def unit(n: str) -> str:
        if n.startswith("trace.overhead") or n.endswith(("ratio", "rows_per_batch", "_calls")):
            return "ratio"
        if n.endswith("_s"):
            return "s"
        if n.endswith(("_bytes", "bytes_served")):
            return "bytes"
        if n.endswith("_mb"):
            return "MB"
        return "count"
    return {n: unit(n) for n in per_layer_names()}


class Feed:
    """The feed server and event generator in one child process."""

    def __init__(self):
        self.proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "feedproc.py")],
            stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True, cwd=WORK)
        hello = json.loads(self.proc.stdout.readline())
        self.url, self.page_size = hello["url"], hello["page_size"]

    def call(self, **msg) -> dict:
        self.proc.stdin.write(json.dumps(msg) + "\n")
        self.proc.stdin.flush()
        line = self.proc.stdout.readline()
        if not line:
            raise RuntimeError("feed process exited")
        return json.loads(line)

    def close(self) -> None:
        if self.proc.poll() is None:
            try:
                self.call(cmd="quit")
            except (OSError, RuntimeError, ValueError):
                pass
        try:
            self.proc.wait(timeout=15)
        except subprocess.TimeoutExpired:
            self.proc.kill()
            self.proc.wait()


class Run:
    """State of one benchmark run: the session, the feed, the tally, the
    trace and the metrics gathered so far."""

    def __init__(self, args):
        import stats
        import probes

        self.args = args
        self.tally = stats.Tally()
        self.tracer = probes.Tracer()
        self.m: dict[str, float] = {}
        self.layer: dict[str, float] = {}
        self.notes: dict = {}
        self.dir = os.path.join(WORK, f"run-{os.getpid()}")
        shutil.rmtree(self.dir, ignore_errors=True)
        os.makedirs(self.dir)
        self.feed = Feed()
        try:
            self._start_session(args)
        except BaseException:
            self.feed.close()
            raise
        self.progress = probes.Progress()
        self.spark.streams.addListener(self.progress)
        if args.trace:
            self._wrap_layers()

    def _start_session(self, args) -> None:
        from http_feeds_spark.session import get_spark

        t0 = time.perf_counter()

        # the heap starts at its maximum, so the JVM's share of peak RSS
        # does not hinge on when the collector chooses to grow it
        conf = {"spark.driver.extraJavaOptions": f"-Xms{os.environ['SPARK_DRIVER_MEMORY']}"}
        if args.trace:
            conf.update({"spark.ui.retainedJobs": "100000", "spark.ui.retainedStages": "100000"})
        self.spark = get_spark(app_name="perfbench", extra_conf=conf)
        self.layer["session.start_s"] = time.perf_counter() - t0

    def _wrap_layers(self) -> None:
        from http_feeds_spark import epochs, ingest, pipeline
        from http_feeds_spark.operators import text_index
        from http_feeds_spark.streaming import dedup

        for s in SPANS:
            layer, fn = s.split(".")
            mod = {"ingest": ingest, "epochs": epochs, "text_index": text_index,
                   "dedup": dedup}[layer]
            self.tracer.wrap(mod, fn, s)
        self.tracer.wrap(pipeline, "prepare_training_corpus", "pipeline.prepare_training_corpus")

    def stage(self, name: str) -> None:
        """Note how far into the run a stage ended, for the notes line."""
        self.notes.setdefault("stages_s", {})[name] = round(time.perf_counter() - T_START, 2)

    def close(self) -> None:
        """Stop every query, the feed process and the JVM, and wait for
        each to end."""
        import base

        try:
            for q in self.spark.streams.active:
                q.stop()
        finally:
            self.feed.close()
            self.tracer.unwrap()
            base.stop_spark(self.spark)
            shutil.rmtree(self.dir, ignore_errors=True)


# --- feed_live ---------------------------------------------------------------


def _order_free_hash(pairs) -> str:
    h = hashlib.sha256()
    for line in sorted(f"{s}\t{d}" for s, d in pairs):
        h.update(line.encode() + b"\n")
    return h.hexdigest()


def _expected_read_model(rows: list[list]) -> str:
    """Latest state per subject minus DELETEs, from the generator's own
    record of what it published."""
    latest: dict[str, list] = {}
    for r in sorted(rows, key=lambda r: r[0]):
        latest[r[3]] = r
    return _order_free_hash(
        (s, json.dumps(r[5], separators=(",", ":"), sort_keys=True))
        for s, r in latest.items() if r[4] != "DELETE")


def feed_live(run: Run) -> None:
    import stats
    from http_feeds_spark import ingest

    args, feed, progress = run.args, run.feed, run.progress
    landing = os.path.join(run.dir, "landing")
    published: list[list] = []

    def publish(seed: int, n: int, rate: float) -> list[list]:
        feed.call(cmd="live", seed=seed, n=n, subjects=LIVE_SUBJECTS, delete_frac=LIVE_DELETE_FRAC)
        rows = feed.call(cmd="publish", rate=rate)["rows"]
        published.extend(rows)
        return rows

    def start():
        return ingest.run(run.spark, feed.url, landing, catch_up=False, timeout_ms=LONG_POLL_MS)

    # set-up: a backlog waits in the feed before the subscription starts
    backlog = publish(args.seed * 2, LIVE_BACKLOG, 0)
    q = start()
    run.m["setup_s"] = time.perf_counter() - T_START

    # phase 1: the backlog drains. The first micro-batch pays for query
    # start and is left out: capacity is what later batches land per second.
    landed = progress.wait_reach(backlog[-1][0], 120)
    run.tally.add("backlog landed", len(backlog), 0 if landed else len(backlog))
    run.stage("backlog_drained")
    drained = sorted((b for b in progress.snapshot() if b["rows"] > 0), key=lambda b: b["commit"])
    last = next(i for i, b in enumerate(drained) if b["end_seq"] >= backlog[-1][0]) if landed else 0
    if last:
        run.m["drain_eps"] = (sum(b["rows"] for b in drained[1:last + 1])
                              / (drained[last]["commit"] - drained[0]["commit"]))

    # phase 2: an open loop at a fixed rate below capacity
    rows = publish(args.seed * 2 + 1, int(LIVE_RATE_EPS * args.seconds), LIVE_RATE_EPS)
    progress.wait_reach(rows[-1][0], 60)
    q.stop()
    run.stage("open_loop")
    lags, missing = stats.attribute_lag(
        [(r[0], r[1]) for r in rows],
        [(b["end_seq"], b["commit"]) for b in progress.snapshot()])
    run.tally.add("live events landed", len(rows), missing)
    run.m["fresh_p50_s"] = statistics.median(lags)
    label, run.m["fresh_tail_s"] = stats.tail(lags)
    run.notes["fresh_tail"] = f"{label} of {len(lags)} events"
    run.layer["http_feed.generator_late_s"] = max(r[2] - r[1] for r in rows)

    # the consumer's read: the read model of everything landed. A read is
    # half a second of small jobs that get faster over the first few
    # reads, so its cost is the median of the reads after those.
    reads = []
    for _ in range(READ_REPEATS):
        t0 = time.perf_counter()
        ingest.read_model(run.spark, landing).write.format("noop").mode("overwrite").save()
        reads.append(time.perf_counter() - t0)
    run.m["read_s"] = statistics.median(reads[READ_WARMUP:])
    run.notes["reads_s"] = [round(r, 3) for r in reads]
    run.stage("reads")

    # output check, outside timing
    got = ingest.read_model(run.spark, landing).select("subject", "data").collect()
    run.tally.check("read model equals generator state",
                    _order_free_hash((r.subject, r.data) for r in got) == _expected_read_model(published))
    run.notes["events_published"] = len(published)


# --- platform_wave -----------------------------------------------------------


def base_platform() -> tuple[str, float]:
    """The bootstrapped base (``base.py``), built first when missing.
    Returns its directory and the seconds spent building it."""
    import base

    path = base.path()
    if os.path.isdir(path):
        return path, 0.0
    t0 = time.perf_counter()
    subprocess.run([sys.executable, os.path.join(HERE, "base.py")], check=True,
                   stdout=sys.stderr, cwd=ROOT)
    return path, time.perf_counter() - t0


def platform_wave(run: Run) -> None:
    import base
    import stats
    from http_feeds_spark import ingest
    from http_feeds_spark.operators import text_index as ti

    args, spark, feed, progress = run.args, run.spark, run.feed, run.progress
    rng = random.Random(args.seed)

    # set-up: a copy of the bootstrapped base platform. Building the base
    # is a one-time preparation of the checkout, kept out of setup_s.
    base_dir, built_s = base_platform()
    run.notes["base_build_s"] = round(built_s, 2)
    root = os.path.join(run.dir, "platform")
    shutil.copytree(os.path.join(base_dir, "platform"), root)
    sf_dir = os.path.join(base_dir, "sf")
    with open(os.path.join(base_dir, "pool.json")) as f:
        pool = json.load(f)
    rng.shuffle(pool)
    run.m["setup_s"] = time.perf_counter() - T_START - built_s
    run.stage("setup")

    live_ids = set(range(base.BASE_FIRST_ID, base.BASE_FIRST_ID + base.BASE_DOCS))
    monitor_docs = n_events = 0
    fresh, waves, eps, calls_per_wave, searches = [], [], [], [], []
    summary: dict = {}
    measure_t0 = time.perf_counter()
    while not waves or (len(pool) >= WAVE_NEW + WAVE_UPDATES
                        and time.perf_counter() - measure_t0 < args.seconds):
        # a wave: new documents plus updates to documents already held
        new, upd = pool[:WAVE_NEW], pool[WAVE_NEW:WAVE_NEW + WAVE_UPDATES]
        del pool[:WAVE_NEW + WAVE_UPDATES]
        upd_ids = rng.sample(sorted(live_ids), WAVE_UPDATES)
        docs = [[str(i), {"doc_id": i, "text": t}, None] for i, t in new]
        docs += [[str(i), {"doc_id": i, "text": t}, None] for i, (_, t) in zip(upd_ids, upd)]
        rng.shuffle(docs)
        feed.call(cmd="docs", docs=docs)
        rows = feed.call(cmd="publish", rate=0)["rows"]
        t_pub = rows[0][2]
        run.stage("wave_published")
        live_ids |= {i for i, _ in new}
        monitor_docs += len(docs)
        n_events += len(rows)

        # catch up until every store holds the wave
        calls, complete, stores = 0, False, {}
        while calls < CALL_CAP and not complete:
            calls += 1
            try:
                summary = ingest.run_platform(spark, feed.url, root, ann_index=False,
                                              pq_index=False, media_index=False)
            except Exception:  # counted as a failed wave; the run goes on
                traceback.print_exc()
                t_end = time.time()
                break
            t_end = time.time()
            stores = {}
            for b in progress.snapshot():
                if b["start"] >= t_pub:
                    stores.setdefault(b["query"], []).append(b)
            complete = (len(stores) == STREAM_STORES
                        and all(max(b["end_seq"] for b in bs) >= rows[-1][0] for bs in stores.values())
                        and summary_matches(summary, len(live_ids), monitor_docs, n_events))
        run.tally.check("wave completed within the call cap", complete)
        calls_per_wave.append(calls)

        # an event is fresh in a stream store when the micro-batch that
        # lands it there commits: one sample per event and store
        landed = 0
        for bs in stores.values():
            lags, _ = stats.attribute_lag([(r[0], r[2]) for r in rows],
                                          [(b["end_seq"], b["commit"]) for b in bs])
            fresh += lags
            landed += len(lags)
        want = len(rows) * STREAM_STORES
        run.tally.add("wave events in every stream store", want, max(0, want - landed))
        # the wave is held when the call after which every store holds it ends
        waves.append(t_end - rows[-1][2])
        # the stream consumers' rate: events landed per second of micro-batch
        busy = sum(b["durations"].get("triggerExecution", 0)
                   for bs in stores.values() for b in bs) / 1000.0
        if busy:
            eps.append(landed / busy)

        # the first search after the wave meets freshly written stores
        t0 = time.perf_counter()
        hits = ti.search(spark, f"{root}/text_index", SEARCH_TERMS, k=10).collect()
        searches.append(time.perf_counter() - t0)
        run.tally.check("search returns k hits", len(hits) == 10)

    run.m["fresh_p50_s"] = statistics.median(fresh)
    run.m["fresh_tail_s"] = statistics.median(waves)
    run.m["drain_eps"] = statistics.median(eps)
    run.m["read_s"] = statistics.median(searches)
    run.notes.update(store_fresh_samples=len(fresh), wave_s=waves, fold_eps=eps,
                     calls_per_wave=calls_per_wave, events_published=n_events)
    run.layer["ingest.run_platform_calls"] = statistics.mean(calls_per_wave)

    # output check on the last wave's summary, outside timing
    run.tally.check("store counts equal published docs",
                    summary_matches(summary, len(live_ids), monitor_docs, n_events))
    if not args.trace:
        return

    # traced run only, after every end-to-end figure is taken: the
    # platform's batch readers over the base corpus
    from http_feeds_spark.queries import registry

    reg = registry()
    results = {}
    for name in READ_ROWS:
        try:
            with run.tracer.span(f"queries.{name}"):
                t0 = time.perf_counter()
                results[name] = reg[name].fn(spark, sf_dir).collect()
                run.layer[f"queries.{name}_s"] = time.perf_counter() - t0
        except Exception:  # a row that raises is a failed operation
            traceback.print_exc()
    run.tracer.unwrap()  # the checks below re-run rows; keep them out of the spans
    for name in READ_ROWS:
        try:
            ok = name in results and check_row(spark, reg[name], sf_dir, results[name])
        except Exception:  # a check that cannot run is a failed check
            traceback.print_exc()
            ok = False
        run.tally.check(f"{name} output", ok)


def summary_matches(summary: dict, docs: int, monitor_docs: int, events: int) -> bool:
    """Every store holds what was published: the landing zone every event,
    the text and dedup indexes every distinct document, the monitor every
    document payload, and the erasure pass no tombstone."""
    return (summary.get("landing", {}).get("raw_rows") == events
            and summary.get("text_index", {}).get("indexed_docs") == docs
            and summary.get("dedup_index", {}).get("indexed_docs") == docs
            and summary.get("monitor", {}).get("n_docs") == monitor_docs
            and summary.get("erasure", {}).get("erase_ids") == 0)


def check_row(spark, query, sf_dir: str, rows) -> bool:
    """A row with a DuckDB oracle is compared with it value for value;
    any other row must return rows, the same ones when run again."""
    import duckdb
    import pandas as pd
    from oracle_harness import _normalize

    got = pd.DataFrame([r.asDict() for r in rows], columns=rows[0].__fields__ if rows else None)
    if query.oracle is None:
        again = query.fn(spark, sf_dir).collect()
        return bool(rows) and _order_free_hash((repr(r), "") for r in rows) == \
            _order_free_hash((repr(r), "") for r in again)
    con = duckdb.connect()
    try:
        con.execute(f"CREATE VIEW documents AS SELECT * FROM '{sf_dir}/documents.parquet/*.parquet'")
        want = con.execute(query.oracle).fetchdf()
    finally:
        con.close()
    return sorted(got.columns) == sorted(want.columns) and _normalize(got) == _normalize(want)


# --- main ---------------------------------------------------------------------


def layer_metrics(run: Run, s: dict) -> dict[str, float]:
    """Every per-layer metric of a traced run; ``s`` is the feed server's
    counters. Metrics a workload does not reach read 0."""
    import probes

    spark, progress = run.spark, run.progress
    out = dict(run.layer)
    published = run.notes["events_published"]
    out.update({
        "http_feed.gets": s["gets"], "http_feed.empty_gets": s["empty_gets"],
        "http_feed.events_served": s["events_served"], "http_feed.bytes_served": s["bytes_served"],
        "http_feed.server_s": s["server_s"],
        "http_feed.client_gap_s": statistics.median(s["gaps"]) if s["gaps"] else 0.0,
        "http_feed.reread_ratio": s["events_served"] / published,
    })
    batches = [b for b in progress.snapshot() if b["rows"] > 0]
    out["ingest.batch.batches"] = len(batches)
    out["ingest.batch.rows_per_batch"] = (
        sum(b["rows"] for b in batches) / len(batches) if batches else 0.0)
    for p in (*BATCH_PHASES, "triggerExecution"):
        key = "trigger_s" if p == "triggerExecution" else f"{p}_s"
        out[f"ingest.batch.{key}"] = sum(b["durations"].get(p, 0) for b in batches) / 1000.0
    firsts = {}
    for b in progress.snapshot():
        firsts.setdefault(b["run"], b["commit"])
    starts = [firsts[r] - t for r, t in progress.started.items() if r in firsts]
    out["ingest.batch.start_s"] = statistics.median(starts) if starts else 0.0
    idle = 0.0
    if run.args.workload == "feed_live":
        for r, t in progress.started.items():
            busy = sum(b["durations"].get("triggerExecution", 0) for b in progress.snapshot()
                       if b["run"] == r) / 1000.0
            idle += max(0.0, progress.terminated.get(r, time.time()) - t - busy)
    out["ingest.batch.idle_s"] = idle

    jobs = probes.spark_jobs(spark)
    stages = probes.spark_stages(spark)
    sm = probes.span_metrics(run.tracer, jobs, stages,
                            [*SPANS, *(f"queries.{r}" for r in READ_ROWS),
                             "pipeline.prepare_training_corpus"])
    for s_name in SPANS:
        for suffix in ("_s", ".self_s", ".jobs", ".driver_gap_s"):
            out[f"{s_name}{suffix}"] = sm[f"{s_name}{suffix}"]
    for m in ("jobs", "driver_gap_s", "exec_s", "shuffle_bytes", "spill_bytes"):
        out[f"queries.{m}"] = sum(sm[f"queries.{r}.{m}"] for r in READ_ROWS)
    out["pipeline.jobs"] = sm["pipeline.prepare_training_corpus.jobs"]
    out["pipeline.driver_gap_s"] = sm["pipeline.prepare_training_corpus.driver_gap_s"]
    out["spark.gc_s"], out["spark.heap_peak_mb"] = probes.jvm_memory(spark)

    # tracing overhead: this traced run against the untraced runs of the
    # same sources in this checkout, signed so that a positive share means tracing made the figure worse
    base = _untraced_medians(run.args.workload)
    for m in E2E:
        if base.get(m):
            worse = base[m] / run.m[m] if m in HIGHER_BETTER else run.m[m] / base[m]
            out[f"trace.overhead.{m}"] = worse - 1.0
        else:
            out[f"trace.overhead.{m}"] = 0.0
    for n in per_layer_names():
        out.setdefault(n, 0.0)
    return out


def _record_path(workload: str) -> str:
    import base

    return os.path.join(WORK, f"untraced-{workload}-{base.sources_key()}.jsonl")


def _untraced_medians(workload: str) -> dict[str, float]:
    try:
        with open(_record_path(workload)) as f:
            recs = [json.loads(line) for line in f if line.strip()]
    except OSError:
        return {}
    return {m: statistics.median(r[m] for r in recs) for m in E2E if all(m in r for r in recs)}


def environment() -> dict:
    """Environment evidence printed with every run (not gated)."""
    nproc = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        mem_mb = int(next(line for line in f if line.startswith("MemTotal")).split()[1]) // 1024
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc)
    os.environ["SPARK_DRIVER_MEMORY"] = f"{min(2048, max(1024, mem_mb // 4))}m"
    os.environ["SPARK_GRAFT_WAREHOUSE"] = os.path.join(WORK, "warehouse")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "local")
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    # every JVM (the launcher too) keeps its temp files in the checkout and
    # writes no performance-counter file under the system temp directory
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData"
    for d in ("warehouse", "local", "tmp"):
        os.makedirs(os.path.join(WORK, d), exist_ok=True)
    return {"nproc": nproc, "mem_total_mb": mem_mb,
            "driver_memory": os.environ["SPARK_DRIVER_MEMORY"]}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    missing = [p for p in REQUIRED if not os.path.isfile(os.path.join(ROOT, p))]
    if missing:
        print(f"perfbench: not a checkout of the program, missing {missing}", file=sys.stderr)
        return 2
    if args.seconds < 1:
        print("perfbench: --seconds must be at least 1", file=sys.stderr)
        return 2
    sys.path[:0] = [HERE, ROOT, os.path.join(ROOT, "tests")]
    os.chdir(ROOT)
    env = environment()
    from bench import _calibrate, _load_gate

    env.update(_load_gate(max_wait_s=0.0))
    run = Run(args)
    try:
        {"feed_live": feed_live, "platform_wave": platform_wave}[args.workload](run)
        run.stage("workload")
        env["page_size"] = run.feed.page_size
        env["calib_s"] = _calibrate(run.spark)
        run.stage("calib")
        served = run.feed.call(cmd="stats")
        run.tally.add("feed GETs answered", served["gets"], served["failed_gets"])
        import probes

        rss = probes.peak_rss_mb(run.spark, served["maxrss_kb"])
        run.notes["peak_rss_mb"] = {k: round(v, 1) for k, v in rss.items()}
        run.m["peak_rss_mb"] = sum(rss.values())
        if args.trace:
            metrics = layer_metrics(run, served)
            units = per_layer_units()
        else:
            metrics = {k: v for k, v in run.m.items() if k in E2E}
            units = E2E
            with open(_record_path(args.workload), "a") as f:
                f.write(json.dumps(run.m) + "\n")
    finally:
        run.close()
        run.stage("close")
    missing = [k for k in units if k not in metrics]
    print(json.dumps({"workload": args.workload, "seed": args.seed, "trace": args.trace,
                      "env": env, "notes": run.notes, "failures": run.tally.reasons}))
    names = ALIASES[args.workload]
    for k, unit in E2E.items():
        if k in run.m:
            print(f"{k:16s} {names.get(k, k):24s} {run.m[k]:14.6g} {unit}")
    print(f"{'failed_frac':16s} {'':24s} {run.tally.failed_frac:14.6g} ratio")
    if args.trace:
        for k, unit in units.items():
            if k in metrics:
                print(f"{k:48s} {metrics[k]:14.6g} {unit}")
    if missing:
        print(f"perfbench: no value for {missing}", file=sys.stderr)
        return 1
    print(json.dumps({
        "correct": run.tally.failed == 0,
        "attempted": run.tally.attempted,
        "failed": run.tally.failed,
        "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
