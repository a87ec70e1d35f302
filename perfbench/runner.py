"""Runs one workload against a freshly started engine, checks every
result, and computes the end-to-end and per-layer metrics."""
import json
import math
import statistics
import threading
import time

import oracle as O
import workloads as W
from agent import BUILD_DIR, HEAP, Agent, BenchError, log
from client import Client, Result


# ---- statistics -------------------------------------------------------

def median(xs, default=0.0):
    return statistics.median(xs) if xs else default


def mean(xs, default=0.0):
    return sum(xs) / len(xs) if xs else default


def hd_quantile(xs, p):
    """Harrell-Davis estimate of the p-quantile: the order statistics
    weighted by a Beta(p(n+1), (1-p)(n+1)) density. It moves smoothly
    where a single order statistic jumps between neighbours, which matters
    for the few dozen distinct TPC-H latencies of a run."""
    s = sorted(xs)
    n = len(s)
    if n == 1:
        return s[0]
    a, b = p * (n + 1), (1 - p) * (n + 1)
    log_norm = math.lgamma(a + b) - math.lgamma(a) - math.lgamma(b)

    def pdf(x):
        if x <= 0.0 or x >= 1.0:
            return 0.0
        return math.exp(log_norm + (a - 1) * math.log(x) + (b - 1) * math.log1p(-x))

    steps = 8  # Simpson sub-intervals per order statistic
    weights = []
    for i in range(n):
        lo, h = i / n, 1.0 / (n * steps)
        f = [pdf(lo + k * h) for k in range(steps + 1)]
        weights.append(h / 3 * (f[0] + f[-1] + 4 * sum(f[1:-1:2]) + 2 * sum(f[2:-1:2])))
    return sum(w * x for w, x in zip(weights, s)) / sum(weights)


def tail(latencies):
    """(value, percentile, samples beyond) for the highest percentile that
    still has at least 10 samples beyond it, (n - 10) / n, estimated like
    the median. With 10 samples or fewer no percentile qualifies; the
    minimum is reported with what lies beyond it."""
    n = len(latencies)
    if n <= 10:
        return min(latencies), 100.0 / n, n - 1
    p = (n - 10) / n
    return hd_quantile(latencies, p), 100.0 * p, 10


def trace_overhead(results):
    """Tracing overhead as the mean, over statement kinds sent both traced
    and untraced, of the ratio of their mean latencies, minus one; so the
    statement mix of either side does not enter it."""
    by_kind = {}
    for r in results:
        by_kind.setdefault(r.kind, ([], []))[0 if r.traced else 1].append(r.latency_s)
    ratios = [mean(on) / mean(off) for on, off in by_kind.values() if on and off]
    return mean(ratios) - 1.0 if ratios else 0.0


def union_ms(intervals):
    """Total length of the union of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


# ---- oracles for the statements that are not plain SQL ---------------

def point_oracle(sql):
    """DuckDB text with the same answer as a point statement."""
    if sql == "SHOW TABLES":
        return ('SELECT table_name AS "Table" FROM information_schema.tables '
                "WHERE table_schema = 'main'")
    if sql.startswith("DESCRIBE "):
        table = sql.split()[1]
        return ('SELECT column_name AS "Column", '
                "CASE WHEN data_type LIKE 'TIMESTAMP%' THEN 'timestamp' "
                "ELSE lower(data_type) END AS \"Type\", '' AS \"Extra\", '' AS \"Comment\" "
                f"FROM information_schema.columns WHERE table_name = '{table}'")
    return sql


def check_prefix(read, inserts):
    """A read of the growing table must see exactly the first k batches for
    some k between the batches committed before it started and those
    started before it ended (one writer, so batches commit in order)."""
    if read.error is not None or len(read.rows) != 1:
        return False
    n, qty = read.rows[0]
    lo = sum(1 for w in inserts if w.end <= read.start)
    hi = sum(1 for w in inserts if w.start < read.end)
    rows, total = 0, 0.0
    prefixes = [(0, None)]
    for w in inserts:
        rows, total = rows + w.extra[0], total + w.extra[1]
        prefixes.append((rows, total))
    return any(int(n) == prefixes[k][0] and
               (qty is None) == (prefixes[k][1] is None) and
               (qty is None or float(qty) == prefixes[k][1])
               for k in range(lo, hi + 1))


# ---- the run ----------------------------------------------------------

class Run:
    def __init__(self, args, spec, fixture, jvm_opts, classpath, stamp):
        self.args, self.spec, self.fixture, self.stamp = args, spec, fixture, stamp
        self.workload, self.seconds, self.trace = args.workload, args.seconds, bool(args.trace)
        self.clients = stamp["clients"]
        self.cores = stamp["nproc"]
        self.t_launch = time.time()
        self.agent = Agent(jvm_opts, classpath, fixture, self.cores, BUILD_DIR / "work")
        self.results, self.warm_results, self.lock = [], [], threading.Lock()
        self.failures = []
        self.replays, self.llm_writes, self.llm_results = [], [], []

    # -- set-up --

    def setup(self):
        a = self.agent
        a.next_reply(300)
        ph = {"session_s": time.time() - self.t_launch}
        ph["register_s"] = a.next_reply()["s"]
        ph["partsupp_s"] = a.next_reply()["s"]
        ready = a.next_reply()
        ph["server_start_s"] = ready["s"]
        self.port = ready["port"]
        t_ready = time.time()
        self.host = a.call("host")
        ingest = self.workload == "ingest_mixed"
        catalog = a.call("catalog", ",".join(W.LLM_QUERIES) if ingest and self.trace else "")
        self.tpch = catalog["tpch"] if self.workload == "tpch_analytic" else []
        self.llm = catalog["llm"]
        # DuckDB sees the fixture plus the tables the engine and the
        # workload add, so SHOW TABLES and DESCRIBE have an oracle too
        self.con = O.connect(self.fixture, self.agent.work / "duckdb",
                             [("partsupp", catalog["partsupp"])])
        if ingest:
            self.con.execute(W.create_ingest_table())
        self.oracle = O.Oracle(self.con, BUILD_DIR / "oracle" / O.fixture_key(self.fixture))
        self.keys = W.Keys.load(self.con)
        self.warm_up()
        self.t_ready, self.phases = t_ready, ph

    def end_setup(self):
        """Set-up ends at the first timed statement."""
        ph = self.phases
        ph["warmup_s"] = self.t_first - self.t_ready
        self.setup_s = self.t_first - self.t_launch
        self.setup_sum_ok = (abs(sum(ph.values()) - self.setup_s)
                             <= SETUP_SUM_TOLERANCE * self.setup_s)
        if not self.setup_sum_ok:
            log(f"set-up phases {ph} do not sum to setup_s {self.setup_s:.3f} within 1%")

    def warm_up(self):
        """Workload preparation plus statements that are not timed, dealt
        to one client per core."""
        if self.tpch:
            # one untimed pass over the TPC-H texts (benchto's prewarm
            # runs), so the timed passes do not pay first-time codegen;
            # about 15 s where one client takes 25 s
            self.parallel(lambda c, i: [self.must(c, q["sql"]) for q in self.tpch[i::self.cores]])
        if self.workload == "ingest_mixed":
            c = Client(self.port)
            try:
                self.must(c, W.create_ingest_table())
            finally:
                c.close()
            self.table_dir = self._table_dir()
            self.files_start = len(self.data_files())
            # one statement of each kind the readers send
            kinds = list(W.READER_DECK)

            def each_kind(c, i):
                rng = W.Stream("warm-up", self.args.seed, i).rng
                for kind in kinds[i::self.cores]:
                    self.must(c, W.point_statement(kind, rng, self.keys))
            self.parallel(each_kind)

    def parallel(self, work):
        """work(client, i) on one thread and client per core; the first
        error is raised once all have ended."""
        errors = []

        def one(i):
            c = Client(self.port)
            try:
                work(c, i)
            except BenchError as e:
                errors.append(e)
            finally:
                c.close()
        threads = [threading.Thread(target=one, args=(i,)) for i in range(self.cores)]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        if errors:
            raise errors[0]

    def must(self, client, sql):
        r = client.run(sql, "warm-up")
        if r.error is not None:
            raise BenchError(f"set-up statement failed: {sql[:80]}: {r.error}")
        return r

    def _table_dir(self):
        hits = [p for p in (self.agent.work / "warehouse").rglob(W.INGEST_TABLE) if p.is_dir()]
        if not hits:
            raise BenchError("ingest table directory not found under the warehouse")
        return hits[0]

    def data_files(self):
        return [p for p in self.table_dir.rglob("*")
                if p.is_file() and not p.name.startswith((".", "_"))]

    # -- timed window --

    def tracing_on(self, t):
        """ABBA quarters of the window: tracing off, on, on, off, so traced
        statements are compared with untraced ones of the same run."""
        q = int((t - self.t_first) / (self.seconds / 4.0))
        return self.trace and q in (1, 2)

    def worker(self, cid, deadline):
        stream = W.Stream(self.workload, self.args.seed, cid, self.keys,
                          [(q["name"], q["sql"]) for q in self.tpch])
        client = Client(self.port)
        whole_passes = self.workload == "tpch_analytic"
        kinds = sorted(q["name"] for q in self.tpch)
        try:
            while True:
                if whole_passes:
                    # measure whole passes, so every seed times the same
                    # statements: at least two, and new ones while the
                    # window lasts
                    if (not stream.deck and stream.passes >= TPCH_MIN_PASSES
                            and time.time() >= deadline):
                        break
                elif time.time() >= deadline:
                    break
                kind, sql, extra = stream.next()
                if whole_passes:
                    # each statement is traced in every other pass, so each
                    # is timed both traced and untraced
                    on = self.trace and (kinds.index(kind) + stream.passes) % 2 == 1
                    if self.trace:
                        self.agent.call("trace", int(on))
                else:
                    on = self.tracing_on(time.time())
                r = client.run(sql, kind, on)
                if kind == "insert":
                    r.extra = extra
                with self.lock:
                    (self.results if r.start >= self.t_first else self.warm_results).append(r)
        finally:
            client.close()

    def window(self):
        """Closed-loop clients. ingest_mixed first runs its own traffic for
        INGEST_WARM_S untimed seconds; its timed window starts after that."""
        warm = W.INGEST_WARM_S if self.workload == "ingest_mixed" else 0.0
        if not warm:
            self.agent.call("mark")
        self.t_first = time.time() + warm
        deadline = self.t_first + self.seconds
        threads = [threading.Thread(target=self.worker, args=(c, deadline))
                   for c in range(self.clients)]
        for t in threads:
            t.start()
        if warm:
            time.sleep(max(0.0, self.t_first - time.time()))
            self.agent.call("mark")
        self.end_setup()
        if self.trace and not self.tpch:
            for q, flag in ((1, 1), (3, 0)):
                time.sleep(max(0.0, self.t_first + q * self.seconds / 4.0 - time.time()))
                self.agent.call("trace", flag)
        for t in threads:
            t.join()
        self.t_end = max(r.end for r in self.results)
        self.stats = self.agent.call("stats")
        self.rss_mb = self.agent.peak_rss_mb()

    # -- traced extras --

    def traced_extras(self):
        self.jvm_spans = self.agent.call("spans")["spans"]
        self.agent.call("trace", 1)
        firsts = {}
        for r in self.results:
            if r.kind != "insert":
                firsts.setdefault(r.kind, r.sql)
        for kind, sql in sorted(firsts.items()):
            rep = self.agent.replay(sql)
            rep["kind"] = kind
            self.replays.append(rep)
        if self.llm:
            self.llm_pass()
        self.jvm_spans += self.agent.call("spans")["spans"]
        self.agent.call("trace", 0)

    def llm_pass(self):
        """The llm layer, timed in ingest_mixed's traced run: each kernel's
        bench build once written as parquet for the check (which also warms
        it), then once drained with a noop write and timed."""
        self.llm_writes = [self.llm_call(q["name"], 1) for q in self.llm]
        self.llm_results = [self.llm_call(q["name"], 0) for q in self.llm]

    def llm_call(self, name, write):
        r = Result(name, name)
        r.traced, r.start = True, time.time()
        try:
            reply = self.agent.call("llm", name, write)
            r.query_id, r.extra = reply["group"], reply["stats"]
            r.end = r.start + reply["wall_ms"] / 1000.0
        except BenchError as e:
            r.end, r.error = time.time(), str(e)
        return r

    def spans(self):
        out = []
        for r in self.results:
            if not r.traced:
                continue
            sid = f"stmt {r.query_id}"
            out.append(dict(name=sid, kind=r.kind, start_ms=r.start * 1000,
                            end_ms=r.end * 1000, parent=None, qid=r.query_id))
            for method, s, e in r.spans:
                out.append(dict(name=method, start_ms=s * 1000, end_ms=e * 1000,
                                parent=sid, qid=r.query_id))
        for rep in self.replays:
            rid = f"replay {rep['group']}"
            t = rep["start_ms"]
            total = sum(rep[k] for k in ("rewrite_ms", "front_door_ms", "optimize_ms",
                                         "physical_ms", "drain_ms"))
            out.append(dict(name=rid, kind=rep["kind"], start_ms=t, end_ms=t + total,
                            parent=None, qid=rep["group"]))
            for k in ("rewrite_ms", "front_door_ms", "optimize_ms", "physical_ms", "drain_ms"):
                out.append(dict(name=k[:-3], start_ms=t, end_ms=t + rep[k], parent=rid,
                                qid=rep["group"]))
                t += rep[k]
        for r in self.llm_writes + self.llm_results:
            out.append(dict(name=f"llm {r.query_id}", kind=r.kind, start_ms=r.start * 1000,
                            end_ms=r.end * 1000, parent=None, qid=r.query_id))
        names = {s["name"] for s in out}
        for s in self.jvm_spans:
            # a job's parent is its statement, replay or llm call span;
            # none when that was not traced (it began before tracing did)
            if s["name"].startswith("job "):
                top = s["qid"].split("_", 1)[0]
                parent = f"{top if top in ('replay', 'llm') else 'stmt'} {s['qid']}"
                s = dict(s, parent=parent if parent in names else None)
            out.append(s)
        return out

    # -- correctness --

    def check(self):
        inserts = self.check_statements()
        self.extra_checks = 0
        if self.workload == "ingest_mixed":
            self.extra_checks += 1
            self.check_table(inserts)
        self.check_llm()

    def check_statements(self):
        """Every statement against its oracle; returns the inserts in
        order, with their expected (rows, sum of l_quantity)."""
        checked = self.warm_results + self.results
        inserts = sorted((r for r in checked if r.kind == "insert"), key=lambda r: r.start)
        for w in inserts:
            # expected (rows, sum of l_quantity) of the batch, from DuckDB
            n, qty = self.con.execute(
                f"SELECT count(*), sum(l_quantity) FROM ({w.extra})").fetchone()
            w.extra = (n, float(qty or 0.0))
        tpch_oracle = {q["name"]: q["oracle"] for q in self.tpch}
        for r in checked:
            if r.kind == "insert":
                ok = r.error is None
            elif r.kind == "growing_read":
                ok = check_prefix(r, inserts)
            elif self.workload == "tpch_analytic":
                ok = self.oracle.check(r, tpch_oracle[r.kind], persist=True)
            else:
                ok = self.oracle.check(r, point_oracle(r.sql))
            r.ok = ok
            if not ok:
                self.failures.append(f"{r.kind}: {r.error or 'wrong result'}: {r.sql[:120]}")
        return inserts

    def check_table(self, inserts):
        """After the window the ingest table holds exactly every batch."""
        c = Client(self.port)
        final = c.run(W.growing_statement_of("growing_read"), "final")
        c.close()
        self.files_end = len(self.data_files())
        self.bytes_end = sum(p.stat().st_size for p in self.data_files())
        self.rows_inserted = sum(w.extra[0] for w in inserts)
        if not check_prefix_final(final, inserts):
            self.failures.append(f"ingest table holds {final.rows or final.error}, "
                                 f"expected {self.rows_inserted} rows")

    def check_llm(self):
        llm = {q["name"]: q for q in self.llm}
        for r in self.llm_writes + self.llm_results:
            r.ok = r.error is None and (r in self.llm_results or self.llm_check(llm[r.kind]))
            if not r.ok:
                self.failures.append(f"{r.kind}: {r.error or 'wrong result'}")

    def llm_check(self, q):
        """A kernel's written bench build against the query's DuckDB
        oracle. Where the timed build is not the one the oracle checks (a
        contract query's engine-side pipeline) it must have rows, as the
        engine's own rows>0 check asks of queries without an oracle; where
        DuckDB cannot run the oracle it must have the expected row count."""
        name = q["name"]
        try:
            got = O.normalize_duckdb(
                self.con, f"SELECT * FROM '{self.agent.out_dir / name}/*.parquet'")
            if q["own_bench"]:
                return len(got[1]) > 0
            if name in W.LLM_ROW_COUNTS:
                return len(got[1]) == self.con.execute(W.LLM_ROW_COUNTS[name]).fetchone()[0]
            return O.same(got, self.oracle.expected(q["oracle"], persist=True))
        except O.duckdb.Error as e:  # unreadable result = wrong result
            log(f"{name}: {e}")
            return False

    # -- metrics --

    def window_s(self):
        return self.t_end - self.t_first

    def end_to_end(self):
        lat = [r.latency_s for r in self.results]
        value, pct, beyond = tail(lat)
        self.tail_info = {"percentile": round(pct, 3), "samples_beyond": beyond,
                          "samples": len(lat)}
        return {
            "setup_s": (self.setup_s, "s"),
            "qps": (len(self.results) / self.window_s(), "1/s"),
            "latency_p50_s": (hd_quantile(lat, 0.5), "s"),
            "latency_tail_s": (value, "s"),
            "peak_rss_mb": (self.rss_mb, "MB"),
        }

    def per_layer(self):
        rest = [r for r in self.results if r.query_id]
        # engine totals add up the job groups of timed statements only
        groups = {r.query_id: self.stats["groups"].get(r.query_id, {}) for r in rest}
        agg = lambda r: groups[r.query_id]
        tot = lambda k: sum(g.get(k, 0) for g in groups.values())
        out_rows = sum(len(r.rows) for r in rest) + sum(
            r.extra[0] for r in self.results if r.kind == "insert")
        rep = lambda k: median([x[k] for x in self.replays])
        m = {
            "sql.submit_ms": (median([r.submit_ms for r in rest]), "ms"),
            "sql.page_ms": (median([g for r in rest for g in r.get_ms]), "ms"),
            "sql.polls_per_query": (mean([len(r.get_ms) for r in rest]), "count"),
            "sql.empty_polls_per_query": (mean([r.empty_polls for r in rest]), "count"),
            "sql.queued_ms": (median([r.queued_ms for r in rest]), "ms"),
            "sql.rewrite_ms": (rep("rewrite_ms"), "ms"),
            "sql.front_door_ms": (rep("front_door_ms"), "ms"),
            "plans.optimize_ms": (rep("optimize_ms"), "ms"),
            "plans.physical_ms": (rep("physical_ms"), "ms"),
            "engine.jobs_per_query": (mean([agg(r).get("jobs", 0) for r in rest]), "count"),
            "engine.stages_per_query": (mean([agg(r).get("stages", 0) for r in rest]), "count"),
            "engine.tasks_per_query": (mean([agg(r).get("tasks", 0) for r in rest]), "count"),
            "engine.executor_cpu_s": (tot("cpu_ns") / 1e9, "s"),
            "engine.executor_run_s": (tot("run_ms") / 1000.0, "s"),
            "engine.task_gc_ms": (tot("gc_ms"), "ms"),
            "engine.shuffle_read_bytes": (tot("shuffle_read"), "bytes"),
            "engine.shuffle_write_bytes": (tot("shuffle_write"), "bytes"),
            "engine.spill_bytes": (tot("spill"), "bytes"),
            "engine.input_rows_per_output_row": (tot("input_rows") / out_rows if out_rows else 0.0,
                                                 "ratio"),
            "engine.core_busy_frac": (tot("run_ms") / (self.window_s() * 1000.0 * self.cores),
                                      "ratio"),
            "engine.cached_bytes": (self.stats["cached_bytes"], "bytes"),
            "jvm.driver_gc_ms": (self.stats["gc_ms"], "ms"),
            "jvm.heap_peak_mb": (self.stats["heap_peak_mb"], "MB"),
        }
        for k, v in self.phases.items():
            m[f"engine.{k}"] = (v, "s")
        for name in self.spec_names("per_layer"):
            if name.startswith("queries.") and name.endswith(".wall_s"):
                q = name[len("queries."):-len(".wall_s")]
                m[name] = (median([r.latency_s for r in self.results if r.kind == q]), "s")
        inserts = [r for r in self.results if r.kind == "insert"]
        all_inserts = [r for r in self.warm_results if r.kind == "insert"] + inserts
        ingest = self.workload == "ingest_mixed"
        m.update({
            "sources.files_per_insert": (
                (self.files_end - self.files_start) / len(all_inserts) if all_inserts else 0.0,
                "count"),
            "sources.table_files_end": (self.files_end if ingest else 0, "count"),
            "sources.growing_read_ms": (1000 * median(
                [r.latency_s for r in self.results if r.kind == "growing_read"]), "ms"),
            "sources.static_read_ms": (1000 * median(
                [r.latency_s for r in self.results if r.kind == "static_read"]), "ms"),
            "sources.write_latency_p50_s": (median([r.latency_s for r in inserts]), "s"),
            "sources.space_bytes_per_row": (
                self.bytes_end / self.rows_inserted if ingest and self.rows_inserted else 0.0,
                "bytes"),
        })
        for q in W.LLM_QUERIES:
            # the timed (noop-drained) call of each kernel
            calls = [r for r in self.llm_results if r.kind == q and r.error is None]
            m[f"llm.{q}.wall_s"] = (median([r.latency_s for r in calls]), "s")
            m[f"llm.{q}.cpu_s"] = (median([r.extra["cpu_ns"] / 1e9 for r in calls]), "s")
        m.update(self.trace_metrics())
        return m

    def trace_metrics(self):
        spans = self.spans()
        jobs = {}
        for s in spans:
            if s["name"].startswith("job "):
                jobs.setdefault(s["qid"], []).append((s["start_ms"], s["end_ms"]))
        traced = [r for r in self.results if r.traced]
        engine = [union_ms(jobs.get(r.query_id, [])) for r in traced]
        sql_self = [1000 * r.latency_s - e for r, e in zip(traced, engine)]
        self.span_list = spans
        return {
            "trace.overhead_frac": (trace_overhead(self.results), "ratio"),
            "trace.self_ms.sql": (median(sql_self), "ms"),
            "trace.self_ms.plans": (median([x["optimize_ms"] + x["physical_ms"]
                                            for x in self.replays]), "ms"),
            "trace.self_ms.engine": (median(engine), "ms"),
        }

    def spec_names(self, section):
        return [m["name"] for m in self.spec[section]]

    def assemble(self, computed):
        """Exactly the metrics BENCHMARK.json lists for this mode, with its
        units."""
        section = "per_layer" if self.trace else "end_to_end"
        out = {}
        for m in self.spec[section]:
            if m["name"] not in computed:
                raise BenchError(f"metric {m['name']} was not computed")
            value, unit = computed[m["name"]]
            if unit != m["unit"]:
                raise BenchError(f"metric {m['name']} unit {unit} != {m['unit']}")
            out[m["name"]] = {"value": value, "unit": unit}
        return out

    def execute(self):
        try:
            self.setup()
            self.window()
            if self.trace:
                self.traced_extras()
            self.check()
        finally:
            self.agent.stop()
        # attempted counts statements, llm calls and whole-run checks
        attempted = (len(self.warm_results) + len(self.results) + len(self.llm_writes)
                     + len(self.llm_results) + self.extra_checks)
        failed = len(self.failures)
        computed = self.end_to_end()
        if self.trace:
            computed.update(self.per_layer())
            tdir = BUILD_DIR / "traces"
            tdir.mkdir(parents=True, exist_ok=True)
            self.trace_file = tdir / f"{self.workload}-seed{self.args.seed}.json"
            self.trace_file.write_text(json.dumps({"spans": self.span_list}))
        result = {
            "correct": failed == 0 and self.setup_sum_ok,
            "attempted": attempted,
            "failed": failed,
            "metrics": self.assemble(computed),
        }
        statements = [[r.kind, r.start - self.t_first, r.latency_s, r.ok]
                       for r in sorted(self.results, key=lambda r: r.start)]
        return self.details(), result, statements

    def details(self):
        kinds = {}
        for r in self.results:
            kinds.setdefault(r.kind, []).append(r.latency_s)
        return {
            "host": dict(self.stamp, **self.host, heap=HEAP,
                         local=f"local[{self.cores}]"),
            "setup": dict(self.phases, setup_s=self.setup_s, sum_ok=self.setup_sum_ok),
            "window_s": self.window_s(),
            "latency_tail": self.tail_info,
            "kinds": {k: {"n": len(v), "p50_s": median(v)} for k, v in sorted(kinds.items())},
            "failures": self.failures[:20],
            "trace_file": str(getattr(self, "trace_file", "")) or None,
        }


SETUP_SUM_TOLERANCE = 0.01
# Timed TPC-H passes at least: the first pass after the prewarm still runs
# about 8% slower than the second, and two halve what one stray slow pass
# moves the run; a traced run compares each text traced and untraced
TPCH_MIN_PASSES = 2


def check_prefix_final(final, inserts):
    """The table after the run holds exactly every batch."""
    if final.error is not None or len(final.rows) != 1:
        return False
    fake = Result(final.sql, "final")
    fake.rows, fake.error = final.rows, None
    fake.start = fake.end = float("inf")
    return check_prefix(fake, inserts) and int(final.rows[0][0]) == sum(w.extra[0] for w in inserts)


def run(args, spec, fixture, jvm_opts, classpath, stamp):
    return Run(args, spec, fixture, jvm_opts, classpath, stamp).execute()
