"""Wire-level benchmark of the basenine daemon (``python -m basenine_spark``).

    python3 wirebench/run.py --workload NAME --seed N --seconds S --trace 0|1
                             [--master local[2]]

Each run starts a fresh daemon in its own process (persistent mode, a
fresh storage directory under ``.wirebench/`` in the checkout), sets it
up, measures one workload over TCP for ``--seconds`` seconds from this
single load-generator process, checks every answer against the
generator's own model, stops the daemon and prints one JSON line last.
Workloads, metrics and the layer map are described in
``wirebench/WORKLOADS.md``.

``--trace 1`` starts the daemon with the layer tracer (``spans.py``)
and prints the per-layer metrics instead of the end-to-end ones.
"""

from __future__ import annotations

import argparse
import bisect
import json
import os
import random
import selectors
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402
import wire  # noqa: E402
from stats import percentile  # noqa: E402

# -- workload parameters ------------------------------------------------

TAIL_RATE = 200.0  # live_tail Poisson arrivals, docs/s
PRELOAD_DOCS = 2000  # both workloads start from this store ...
PRELOAD_BATCHES = 2  # ... written in this many /insert batches
FIREHOSE_DOCS_PER_S = 2400  # firehose size: this many docs per second of --seconds
FIREHOSE_CHUNK = 200  # docs per sendall on the firehose
UI_CYCLE = ("fetch_latest", "single", "fetch_forward", "single")
WARM_UI_ROUNDS = 3  # set-up warm-up: this many UI requests per fetch filter
MIN_UI_SAMPLES = 25  # per request kind: a median by the rule, with room
VALIDATES_PER_OP = 5  # /validate is cheap: sample it densely
MAX_LATENESS_P99_S = 0.05  # open loop: generator must keep its schedule
IDLE_WINDOW_S = 3.0  # traced runs: no inserts, followers still open
DRAIN_TIMEOUT_S = 40.0
START_TIMEOUT_S = 120.0
DAEMON_NICE = 5  # the daemon's priority below the generator's

WORKLOADS = ("firehose_ingest", "live_tail")

END_TO_END = [
    ("setup_s", "s"),
    ("server_rss_mb", "MB"),
    ("ingest_docs_per_s", "1/s"),
    ("storage_bytes_per_input_byte", "B/B"),
    ("tail_latency_p50_ms", "ms"),
    ("fetch_ms_p50", "ms"),
    ("single_ms_p50", "ms"),
    ("validate_ms_p50", "ms"),
]


class BenchError(RuntimeError):
    pass


# -- daemon process -----------------------------------------------------


class Daemon:
    def __init__(self, run_dir: str, master: str, trace_out: str | None):
        self.store = os.path.join(run_dir, "store")
        tmp = os.path.join(run_dir, "tmp")
        os.makedirs(tmp, exist_ok=True)
        env = dict(os.environ)
        env.update(
            SPARK_LOCAL_DIRS=tmp,
            TMPDIR=tmp,
            JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            PYTHONDONTWRITEBYTECODE="1",
            # Spark's Python workers import the package too
            PYTHONPATH=os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")])),
        )
        cmd = [sys.executable, os.path.join(HERE, "daemon.py")]
        if trace_out:
            cmd += ["--trace-out", trace_out]
        cmd += ["--", "-persistent", "-storage-args", self.store,
                "-addr", "127.0.0.1", "-port", "0", "-master", master]
        self.log_path = os.path.join(run_dir, "daemon.log")
        self._log = open(self.log_path, "w")
        self.proc = subprocess.Popen(
            cmd, cwd=run_dir, env=env, stdout=subprocess.PIPE,
            stderr=self._log, stdin=subprocess.DEVNULL, text=True,
            start_new_session=True,
            # the daemon and its JVM share this machine's cores with the
            # generator, which a real client would not: a lower priority
            # lets the open-loop writer keep its schedule while they are busy
            preexec_fn=lambda: os.nice(DAEMON_NICE),
        )
        self.port = self._wait_ready()

    def _wait_ready(self) -> int:
        sel = selectors.DefaultSelector()
        sel.register(self.proc.stdout, selectors.EVENT_READ)
        deadline = time.time() + START_TIMEOUT_S
        while time.time() < deadline:
            if sel.select(timeout=0.2):
                line = self.proc.stdout.readline()
                if not line:
                    break
                if " listening on " in line:
                    return int(line.split(" listening on ")[1].split()[0].rsplit(":", 1)[1])
            elif self.proc.poll() is not None:
                break
        raise BenchError("daemon did not start; see " + self.log_path + ":\n" + self.tail_log())

    def tail_log(self) -> str:
        try:
            with open(self.log_path) as fh:
                return "".join(fh.readlines()[-15:])
        except OSError:
            return ""

    def family(self) -> list[int]:
        """The daemon's pid and every descendant's (the JVM among them)."""
        children: dict[int, list[int]] = {}
        for d in os.listdir("/proc"):
            if not d.isdigit():
                continue
            try:
                with open(f"/proc/{d}/stat") as fh:
                    ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children.setdefault(ppid, []).append(int(d))
        out, todo = [], [self.proc.pid]
        while todo:
            p = todo.pop()
            out.append(p)
            todo.extend(children.get(p, []))
        return out

    def peak_rss_mb(self) -> float:
        total_kb = 0
        for pid in self.family():
            try:
                with open(f"/proc/{pid}/status") as fh:
                    for line in fh:
                        if line.startswith("VmHWM:"):
                            total_kb += int(line.split()[1])
            except OSError:
                pass
        return total_kb / 1024.0

    def stop(self, grace: float = 30.0) -> None:
        """SIGTERM and wait ``grace`` seconds (the traced daemon writes its
        spans then), then SIGKILL the whole process group and wait until
        every process of it has ended."""
        pids = self.family() if self.proc.poll() is None else []
        if self.proc.poll() is None and grace > 0:
            self.proc.send_signal(signal.SIGTERM)
            try:
                self.proc.wait(timeout=grace)
            except subprocess.TimeoutExpired:
                pass
        try:
            os.killpg(self.proc.pid, signal.SIGKILL)
        except (ProcessLookupError, PermissionError):
            pass
        self.proc.wait()
        deadline = time.time() + 20
        while time.time() < deadline and any(os.path.exists(f"/proc/{p}") and _alive(p) for p in pids):
            time.sleep(0.05)
        self.proc.stdout.close()
        self._log.close()


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def dir_bytes(path: str) -> tuple[int, int]:
    """(bytes, parquet files) under ``path``."""
    total, files = 0, 0
    for dp, _, fns in os.walk(path):
        for fn in fns:
            total += os.path.getsize(os.path.join(dp, fn))
            files += fn.endswith(".parquet")
    return total, files


# -- the load generator -------------------------------------------------


class Checks:
    """attempted / failed accounting; every mismatch is kept for the report."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self._lock = threading.Lock()

    def check(self, ok: bool, what: str, n: int = 1) -> bool:
        with self._lock:
            self.attempted += n
            if not ok:
                self.failed += n
                if len(self.problems) < 20:
                    self.problems.append(what)
        return ok


class FollowSet:
    """Open /query follow connections, read by one thread."""

    def __init__(self, port: int, filters: list):
        self.filters = filters
        self.conns = [wire.follow(port, f.bfl) for f in filters]
        self.got: list[list[tuple[int, float, int]]] = [[] for _ in filters]
        self.errors: list[str] = []
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()

    def _loop(self) -> None:
        sel = selectors.DefaultSelector()
        for i, c in enumerate(self.conns):
            sel.register(c.sock, selectors.EVENT_READ, i)
        while not self._stop.is_set():
            for key, _ in sel.select(timeout=0.1):
                i = key.data
                c = self.conns[i]
                try:
                    alive = c.feed()
                except OSError:
                    alive = False
                now = time.time()
                for line in c.pop_lines():
                    if line.startswith("{"):
                        d = json.loads(line)
                        self.got[i].append((d["bk"], now, int(d["id"])))
                    elif not line.startswith(wire.META):
                        self.errors.append(line)
                if not alive:
                    sel.unregister(c.sock)
                    if not sel.get_map():
                        return

    def close(self) -> None:
        self._stop.set()
        self._thread.join()
        for c in self.conns:
            c.close()


class Run:
    def __init__(self, workload: str, seed: int, seconds: float, trace: bool,
                 master: str, run_dir: str):
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.master = master
        self.run_dir = run_dir
        self.rnd = random.Random(seed * 7919 + 17)
        self.gen = gen.DocGen(seed)
        insertion = gen.INSERTION_REDACT if workload == "firehose_ingest" else ()
        self.model = gen.StoreModel(insertion_redact=insertion)
        self.raw_docs: list[dict] = []  # as sent, by seq
        self.due: dict[int, float] = {}  # seq -> when the doc was due
        self.checks = Checks()
        self.input_bytes = 0
        self.ui: dict[str, list[float]] = {"fetch": [], "single": [], "validate": []}
        self.report: dict = {"workload": workload, "seed": seed, "master": master}
        self.daemon: Daemon | None = None
        self._ui_visible = 0  # highest total a reply has shown the UI client
        self._ui_visible_before = 0
        self._cycles: dict = {}
        self._expected_counts = (-1, [])
        self._validate_texts = [(True, t) for t in gen.VALID_TEXTS] + [
            (False, t) for t in gen.INVALID_TEXTS]

    # -- helpers ---------------------------------------------------------

    def _next_lines(self, n: int) -> list[str]:
        lines = []
        for _ in range(n):
            d = self.gen.doc()
            self.raw_docs.append(d)
            self.model.add(d)
            line = gen.dumps(d)
            self.input_bytes += len(line) + 1
            lines.append(line)
        return lines

    def _wait_visible(self, n: int, timeout: float = DRAIN_TIMEOUT_S, every: float = 0.05) -> float:
        deadline = time.time() + timeout
        while time.time() < deadline:
            if wire.visible_total(self.port) >= n:
                return time.time()
            time.sleep(every)
        raise BenchError(f"only {wire.visible_total(self.port)} of {n} docs became visible")

    def _follow_filters(self) -> list:
        if self.workload == "live_tail":
            return [gen.TAIL_5XX, gen.TAIL_ORDERS_POST]
        return [gen.TAIL_5XX]

    def _expected_tail(self, flt) -> list[int]:
        return [s for s in range(len(self.raw_docs)) if flt.match(self.raw_docs[s])]

    def _tail_drained(self, follow: FollowSet) -> bool:
        n = len(self.raw_docs)
        if self._expected_counts[0] != n:
            self._expected_counts = (n, [len(self._expected_tail(f)) for f in follow.filters])
        return all(len(g) >= c for g, c in zip(follow.got, self._expected_counts[1]))

    def _wait_tail(self, follow: FollowSet) -> None:
        deadline = time.time() + DRAIN_TIMEOUT_S
        while not self._tail_drained(follow) and time.time() < deadline:
            time.sleep(0.02)

    # -- set-up ----------------------------------------------------------

    def setup(self) -> None:
        t0 = time.perf_counter()
        trace_out = os.path.join(self.run_dir, "spans.json") if self.trace else None
        self.trace_out = trace_out
        self.daemon = Daemon(self.run_dir, self.master, trace_out)
        self.port = self.daemon.port
        self.report["daemon_start_s"] = time.perf_counter() - t0
        self.checks.check(wire.validate(self.port, gen.VALID_TEXTS[0]) == "OK", "first /validate")
        if self.workload == "firehose_ingest":
            reply = wire.insertion_filter(self.port, gen.INSERTION_FILTER)
            self.checks.check(reply == "OK", f"/insert-filter replied {reply!r}")
        self.insert = wire.Conn(self.port, sndbuf=1 << 18)
        self.insert.send_lines("/insert")
        tp = time.time()
        for _ in range(PRELOAD_BATCHES):
            lines = self._next_lines(PRELOAD_DOCS // PRELOAD_BATCHES)
            self.insert.send_raw(("\n".join(lines) + "\n").encode())
            self._wait_visible(len(self.raw_docs), every=0.2)
        self.report["preload_s"] = time.time() - tp
        # warm-up followers read the preload, are checked and closed
        # before the UI warm-up
        self.follow = warm = FollowSet(self.port, self._follow_filters())
        self._wait_tail(warm)
        warm.close()
        self.check_tail(warm, "warm-up")
        # warm-up: every UI request kind and filter several times, so the
        # JVM has compiled the read path before anything is timed
        self._ui_visible = len(self.raw_docs)
        for i in range(WARM_UI_ROUNDS * len(gen.FETCH_FILTERS)):
            self.ui_op(UI_CYCLE[i % len(UI_CYCLE)], warm=True)
            self.ui_op("validate", warm=True)
        self.setup_s = time.perf_counter() - t0

    # -- UI client ---------------------------------------------------------

    def _cycle(self, name: str, items: list):
        """Next item of a seeded permutation of ``items``, cycled, so every
        run sends each filter and text equally often."""
        cyc = self._cycles.get(name)
        if cyc is None or cyc[1] >= len(cyc[0]):
            order = list(items)
            self.rnd.shuffle(order)
            cyc = self._cycles[name] = [order, 0]
        cyc[1] += 1
        return cyc[0][cyc[1] - 1]

    def ui_op(self, kind: str, warm: bool = False) -> None:
        r = self.rnd
        visible = self._ui_visible
        if kind in ("fetch_latest", "fetch_forward"):
            flt = self._cycle(kind, gen.FETCH_FILTERS)
            if kind == "fetch_latest":
                left_off, direction = "latest", -1
            else:
                left_off, direction = r.randrange(0, max(visible - 50, 1)), 1
            t = time.perf_counter()
            try:
                records, frames = wire.fetch(self.port, left_off, direction, flt.bfl, 100)
            except RuntimeError as e:
                self.checks.check(False, f"/fetch {flt.name}: {e}")
                return
            dt = time.perf_counter() - t
            ok = self._check_page(flt, left_off, direction, records, frames)
            self.checks.check(ok, f"/fetch {flt.name} {left_off} {direction}")
            if frames:
                self._ui_visible = max(self._ui_visible, frames[-1]["total"])
            if not warm:
                self.ui["fetch"].append(dt)
        elif kind == "single":
            q = self._cycle(kind, gen.SINGLE_QUERIES)
            # four of every five ids from the newest 10%, in a seeded order:
            # older ids are slower, and a random share would move the median
            if self._cycle("single_newest", (True, True, True, True, False)):
                seq = r.randrange(int(visible * 0.9), visible)
            else:
                seq = r.randrange(0, visible)
            t = time.perf_counter()
            reply = wire.single(self.port, seq, q.bfl)
            dt = time.perf_counter() - t
            try:
                got = json.loads(reply) if reply else None
            except ValueError:
                got = None
            ok = got is not None and gen.normalize(got) == self.model.reply_doc(seq, q)
            self._count_nulls(got)
            self.checks.check(ok, f"/single {seq} {q.name}: {str(reply)[:200]}")
            if not warm:
                self.ui["single"].append(dt)
        else:
            valid, text = self._cycle(kind, self._validate_texts)
            t = time.perf_counter()
            reply = wire.validate(self.port, text)
            dt = time.perf_counter() - t
            ok = (reply == "OK") if valid else (bool(reply) and reply != "OK")
            self.checks.check(ok, f"/validate {text!r}: {reply!r}")
            if not warm:
                self.ui["validate"].append(dt)

    def _count_nulls(self, doc) -> None:
        if doc is not None and gen.normalize(doc) != doc:
            self.report["replies_with_null_keys"] = self.report.get("replies_with_null_keys", 0) + 1

    def _check_page(self, flt, left_off, direction, records, frames) -> bool:
        docs = [json.loads(x) for x in records]
        for d in docs:
            self._count_nulls(d)
        seqs = [int(d["id"]) for d in docs]
        if left_off == "latest":
            # the daemon resolved "latest" to the last seq when the call
            # started; every frame says where the scan began
            if not frames:
                return False
            f0 = frames[0]
            start = f0["current"] + seqs[0] if seqs else f0["current"]
            if seqs != self.model.fetch_page(flt, start, -1, 100, len(self.raw_docs)):
                return False
        else:
            # a forward page may end at whatever was visible when it ran:
            # it must be a prefix of the full answer, cut short only where
            # docs were not yet visible before the call
            full = self.model.fetch_page(flt, left_off, 1, 100, len(self.raw_docs))
            if seqs != full[: len(seqs)]:
                return False
            if len(seqs) < len(full) and full[len(seqs)] < self._ui_visible_before:
                return False
        return all(gen.normalize(d) == self.model.reply_doc(s, flt) for d, s in zip(docs, seqs))

    def ui_loop(self, until: float) -> None:
        """Closed loop: the next request goes out when the previous one is
        answered.  Runs until ``until`` and until every kind has
        ``MIN_UI_SAMPLES`` samples."""
        i = 0
        while True:
            enough = all(len(v) >= MIN_UI_SAMPLES for v in self.ui.values())
            if time.time() >= until and enough:
                return
            self._ui_visible_before = self._ui_visible
            self.ui_op(UI_CYCLE[i % len(UI_CYCLE)])
            for _ in range(VALIDATES_PER_OP):
                self.ui_op("validate")
            i += 1

    # -- writers -------------------------------------------------------------

    def _prepare_writer(self) -> None:
        """Docs and open-loop schedules are made before the clock starts."""
        if self.workload == "firehose_ingest":
            n = int(FIREHOSE_DOCS_PER_S * self.seconds)
            lines = self._next_lines(n)
            self.schedule = [lines[i:i + FIREHOSE_CHUNK] for i in range(0, n, FIREHOSE_CHUNK)]
        elif self.workload == "live_tail":
            r = random.Random(self.seed * 31 + 7)
            offsets, t = [], r.expovariate(TAIL_RATE)
            while t < self.seconds:
                offsets.append(t)
                t += r.expovariate(TAIL_RATE)
            self.schedule = list(zip(offsets, self._next_lines(len(offsets))))

    def write_firehose(self, w0: float) -> None:
        seq = self.first_window_seq
        for lines in self.schedule:
            now = time.time()
            for j in range(len(lines)):
                self.due[seq + j] = now
            seq += len(lines)
            self.insert.send_raw(("\n".join(lines) + "\n").encode())

    def write_poisson(self, w0: float) -> None:
        seq = self.first_window_seq
        late = []
        for off, line in self.schedule:
            due = w0 + off
            wait = due - time.time()
            if wait > 0:
                time.sleep(wait)
            self.insert.send_raw((line + "\n").encode())
            late.append(time.time() - due)
            self.due[seq] = due
            seq += 1
        self.lateness = late

    # -- the measured window ------------------------------------------------

    def measure(self) -> None:
        """A quiet closed-loop UI session of ``--seconds`` on the preloaded
        store, whose shape is the same on every run; then the follow
        connections open, read the preload, and the write window runs;
        then (traced runs) an idle window with the followers still open."""
        u0 = time.time()
        self.ui_loop(u0 + self.seconds)
        self.report["ui_phase_s"] = time.time() - u0
        self.follow = FollowSet(self.port, self._follow_filters())
        self._wait_tail(self.follow)
        self.first_window_seq = len(self.raw_docs)
        writer = self.write_firehose if self.workload == "firehose_ingest" else self.write_poisson
        self._prepare_writer()
        w0 = time.time()
        writer(w0)
        sent = len(self.raw_docs)
        self.report["backlog_at_end_docs"] = sent - wire.visible_total(self.port)
        self.insert.close()  # EOF flushes the daemon's pending batch
        done = self._wait_visible(sent, every=0.02)
        self.ingest_rate = (sent - self.first_window_seq) / (done - w0)
        self.report["window_docs"] = sent - self.first_window_seq
        self.report["last_visible_after_s"] = done - w0
        self._wait_tail(self.follow)
        if self.workload == "live_tail":
            late = sorted(self.lateness)
            p99 = late[int(0.99 * (len(late) - 1))]
            self.report["generator_lateness_p99_ms"] = 1000 * p99
            self.report["open_loop_valid"] = p99 <= MAX_LATENESS_P99_S
        if self.trace:
            self.idle_window()
        self.follow.close()
        self.window = (u0, time.time())

    def idle_window(self) -> None:
        t = time.time()
        time.sleep(IDLE_WINDOW_S)
        self.idle = (t, time.time())

    # -- correctness of the streams and the store -----------------------

    def check_tail(self, follow: FollowSet, what: str) -> None:
        """Each follower got every matching doc once, in id order."""
        for flt, got in zip(follow.filters, follow.got):
            expect = self._expected_tail(flt)
            keys = [bk for bk, _, _ in got]
            seqs = [s for _, _, s in got]
            exp_keys = {self.raw_docs[s]["bk"] for s in expect}
            missing = len(exp_keys - set(keys))
            extra = len(keys) - len(set(keys)) + len(set(keys) - exp_keys)
            self.checks.check(True, "", n=len(expect) - missing)
            if missing:
                self.checks.check(False, f"{what} tail {flt.name}: {missing} missing", n=missing)
            self.checks.check(not extra, f"{what} tail {flt.name}: {extra} duplicate or unexpected")
            self.checks.check(seqs == expect[: len(seqs)], f"{what} tail {flt.name}: not in id order")
        for e in follow.errors:
            self.checks.check(False, f"{what} follow error line: {e[:120]}")

    def verify(self) -> None:
        self.check_tail(self.follow, "window")
        total = wire.visible_total(self.port)
        self.checks.check(total == len(self.raw_docs), f"total {total} != sent {len(self.raw_docs)}")
        if self.workload == "firehose_ingest":
            # sampled docs come back whole, Authorization redacted
            r = random.Random(self.seed + 99)
            plain = gen.SINGLE_QUERIES[0]
            for seq in r.sample(range(len(self.raw_docs)), 8):
                reply = wire.single(self.port, seq, "")
                got = json.loads(reply) if reply and reply.startswith("{") else None
                auth = (got or {}).get("request", {}).get("headers", {}).get("Authorization")
                ok = got is not None and gen.normalize(got) == self.model.reply_doc(seq, plain) \
                    and auth in (None, gen.REDACTED)
                self.checks.check(ok, f"firehose doc {seq} not stored as expected")

    # -- metrics -------------------------------------------------------------

    def tail_samples(self) -> list[tuple]:
        """(latency_s, seq, follower index, t_recv) for docs sent in the window."""
        out = []
        for i, got in enumerate(self.follow.got):
            for _, t_recv, seq in got:
                if seq in self.due:
                    out.append((t_recv - self.due[seq], seq, i, t_recv))
        return out

    def end_to_end(self) -> dict:
        lat = [x[0] * 1000 for x in self.tail_samples()]
        ms = {k: [v * 1000 for v in vals] for k, vals in self.ui.items()}
        m = {
            "setup_s": self.setup_s,
            "server_rss_mb": self.rss_mb,
            "ingest_docs_per_s": self.ingest_rate,
            "storage_bytes_per_input_byte": self.store_bytes / self.input_bytes,
            "tail_latency_p50_ms": percentile(lat, 0.5),
            "fetch_ms_p50": percentile(ms["fetch"], 0.5),
            "single_ms_p50": percentile(ms["single"], 0.5),
            "validate_ms_p50": percentile(ms["validate"], 0.5),
        }
        self.report["samples"] = {"tail": len(lat), **{k: len(v) for k, v in ms.items()}}
        # reported when the sample supports them
        self.report["tail_latency_p90_ms"] = percentile(lat, 0.9)
        self.report["tail_latency_p99_ms"] = percentile(lat, 0.99)
        self.report["fetch_ms_p90"] = percentile(ms["fetch"], 0.9)
        self.report["single_ms_p90"] = percentile(ms["single"], 0.9)
        return m


def per_layer(run: Run, dump: dict) -> dict:
    """Per-layer metrics from the daemon's spans and Spark samples."""
    w0, w1 = run.window
    spans = [s for s in dump["spans"] if w0 <= s[4] <= w1]
    by: dict[str, list] = {}
    for s in spans:
        by.setdefault(s[2], []).append(s)
    dur = {}  # sid -> duration
    child = {}  # sid -> summed child duration
    for s in spans:
        dur[s[0]] = s[5] - s[4]
    for s in spans:
        if s[1] in dur:
            child[s[1]] = child.get(s[1], 0.0) + (s[5] - s[4])

    def calls(name):
        return len(by.get(name, []))

    def mean_ms(name, self_time=False):
        xs = by.get(name, [])
        if not xs:
            return 0.0
        return 1000 * sum((s[5] - s[4]) - (child.get(s[0], 0.0) if self_time else 0.0)
                          for s in xs) / len(xs)

    inserts = by.get("engine.db.insert_json", [])
    polls = by.get("engine.db.query", [])
    compiles = by.get("bfl.compile", [])
    samples = dump["samples"]

    def at(t):
        i = bisect.bisect_right([x[0] for x in samples], t) - 1
        return samples[max(i, 0)] if samples else (t, 0, 0, 0.0)

    s0, s1 = at(w0), at(w1)
    jobs = s1[1] - s0[1]
    ops = len(inserts) + len(polls) + calls("engine.db.fetch") + calls("engine.db.single")
    i0, i1 = at(run.idle[0]), at(run.idle[1])
    m = {
        "server.insert_flushes": len(inserts),
        "server.insert_batch_docs": statistics.mean([s[6]["n"] for s in inserts]) if inserts else 0.0,
        "server.query_polls": len(polls),
        "server.empty_poll_ratio": (sum(1 for s in polls if s[6] and s[6]["rows"] == 0) / len(polls)) if polls else 0.0,
        "server.row_to_doc_ms": mean_ms("server.row_to_doc"),
        "bfl.parse_calls": calls("bfl.parse"),
        "bfl.parse_ms": mean_ms("bfl.parse"),
        "bfl.compile_calls": len(compiles),
        "bfl.compile_ms": mean_ms("bfl.compile"),
        "bfl.row_backend_ratio": (calls("engine.db.row_backend") / calls("engine.db.apply_bfl")) if calls("engine.db.apply_bfl") else 0.0,
        "bfl.eval_calls": calls("bfl.eval"),
        "bfl.eval_ms": mean_ms("bfl.eval"),
        "engine.db.insert_json_self_ms": mean_ms("engine.db.insert_json", True),
        "engine.db.query_self_ms": mean_ms("engine.db.query", True),
        "engine.db.fetch_self_ms": mean_ms("engine.db.fetch", True),
        "engine.db.single_self_ms": mean_ms("engine.db.single", True),
        "engine.schema.infer_ms": mean_ms("engine.schema.infer"),
        "engine.schema.merge_ms": mean_ms("engine.schema.merge"),
        "engine.log.append_ms": mean_ms("engine.log.append"),
        "engine.log.files": run.store_files,
        "engine.log.bytes": run.store_bytes,
        "spark.jobs": jobs,
        "spark.jobs_per_op": jobs / ops if ops else 0.0,
        "spark.codegen_compiles": s1[2] - s0[2],
        "spark.codegen_ms": s1[2] * s1[3] - s0[2] * s0[3],
        "spark.idle_jobs_per_s": (i1[1] - i0[1]) / (run.idle[1] - run.idle[0]),
    }
    m.update(tail_breakdown(run, inserts, polls))
    m["trace.spans"] = len(spans)
    m["trace.cost_ms_per_s"] = 1000 * len(spans) * dump["span_cost_s"] / (w1 - w0)
    return m


def tail_breakdown(run: Run, inserts: list, polls: list) -> dict:
    """Split each delivered doc's latency at the spans that carried it:
    due → insert starts → insert ends → the poll that returned it starts
    → that poll ends → the generator reads it."""
    ins = sorted((s for s in inserts if s[6] and s[6]["n"]), key=lambda s: s[6]["first"])
    ins_first = [s[6]["first"] for s in ins]
    by_q: dict[str, list] = {}
    for s in polls:
        if s[6] and s[6]["rows"]:
            by_q.setdefault(s[6]["q"], []).append(s)
    for v in by_q.values():
        v.sort(key=lambda s: s[6]["first"])
    parts = {k: [] for k in ("insert_wait", "insert", "poll_wait", "query", "send")}
    total = []
    for lat, seq, fi, t_recv in run.tail_samples():
        i = bisect.bisect_right(ins_first, seq) - 1
        if i < 0 or ins[i][6]["last"] < seq:
            continue
        ps = by_q.get(run.follow.filters[fi].bfl, [])
        j = bisect.bisect_right([p[6]["first"] for p in ps], seq) - 1
        if j < 0 or ps[j][6]["last"] < seq:
            continue
        a, p = ins[i], ps[j]
        due = run.due[seq]
        parts["insert_wait"].append(a[4] - due)
        parts["insert"].append(a[5] - a[4])
        parts["poll_wait"].append(p[4] - a[5])
        parts["query"].append(p[5] - p[4])
        parts["send"].append(t_recv - p[5])
        total.append(lat)
    out = {}
    for k, v in parts.items():
        out[f"tail.{k}_ms"] = 1000 * statistics.median(v) if v else 0.0
    p50 = 1000 * statistics.median(total) if total else 0.0
    out["tail.latency_p50_ms"] = p50
    out["tail.unexplained_ms"] = p50 - sum(out[f"tail.{k}_ms"] for k in parts)
    out["tail.attributed_docs"] = len(total)
    return out


# -- entry point ---------------------------------------------------------


def cached_untraced(workload: str) -> list[dict]:
    path = os.path.join(ROOT, ".wirebench", "results", workload + ".jsonl")
    if not os.path.exists(path):
        return []
    with open(path) as fh:
        return [json.loads(line) for line in fh if line.strip()]


def remember_untraced(workload: str, metrics: dict) -> None:
    d = os.path.join(ROOT, ".wirebench", "results")
    os.makedirs(d, exist_ok=True)
    with open(os.path.join(d, workload + ".jsonl"), "a") as fh:
        fh.write(json.dumps(metrics) + "\n")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--master", default="local[2]")
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "basenine_spark")):
        print("wirebench: no basenine_spark package next to wirebench/", file=sys.stderr)
        return 2
    # a SIGTERM still stops the daemon and removes the run directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    run_dir = os.path.join(ROOT, ".wirebench", f"run-{os.getpid()}-{int(time.time() * 1000)}")
    os.makedirs(run_dir)
    run = Run(args.workload, args.seed, args.seconds, bool(args.trace), args.master, run_dir)
    try:
        run.setup()
        run.measure()
        run.verify()
        run.rss_mb = run.daemon.peak_rss_mb()
        run.store_bytes, run.store_files = dir_bytes(run.daemon.store)
        run.report["store_files"] = run.store_files
        e2e = run.end_to_end()
        dump = None
        if run.trace:
            run.daemon.stop()
            with open(run.trace_out) as fh:
                dump = json.load(fh)
    except BenchError as e:
        print(f"wirebench: {e}", file=sys.stderr)
        return 1
    finally:
        try:
            run.follow.close()
        except AttributeError:
            pass
        if run.daemon is not None:
            run.daemon.stop(grace=30.0 if run.trace else 0.0)
        shutil.rmtree(run_dir, ignore_errors=True)

    rep = run.report
    rep["attempted"], rep["failed"] = run.checks.attempted, run.checks.failed
    rep["error_ratio"] = run.checks.failed / max(run.checks.attempted, 1)
    rep["problems"] = run.checks.problems
    rep["end_to_end"] = e2e
    if rep.get("open_loop_valid") is False:
        print(json.dumps(rep, indent=1, default=str))
        print("wirebench: the generator fell behind its open-loop schedule; "
              "latencies of this run are not reported", file=sys.stderr)
        return 1
    missing = [k for k, v in e2e.items() if v is None]
    if args.trace:
        metrics = per_layer(run, dump)
        prior = cached_untraced(args.workload)
        if prior:
            base = statistics.median(p["tail_latency_p50_ms"] for p in prior)
            rep["traced_tail_p50_vs_untraced_median"] = metrics["tail.latency_p50_ms"] / base
        rep["per_layer"] = metrics
        rep["spark_samples"] = len(dump["samples"])
        rep["sampler_error"] = dump.get("sampler_error")
        out = {k: {"value": v, "unit": layer_unit(k)} for k, v in metrics.items()}
    else:
        if missing:
            rep["refused"] = missing
        else:
            remember_untraced(args.workload, e2e)
        out = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END if e2e[k] is not None}
    print(json.dumps(rep, indent=1, default=str))
    correct = run.checks.failed == 0 and not (missing and not args.trace)
    print(json.dumps({"correct": correct, "attempted": run.checks.attempted,
                      "failed": run.checks.failed, "metrics": out}))
    return 0 if correct else 1


def layer_unit(name: str) -> str:
    if name.endswith("_ms") or name == "trace.cost_ms_per_s":
        return "ms" if name.endswith("_ms") else "ms/s"
    if name.endswith("_ratio") or name.endswith("_per_op"):
        return "ratio"
    if name.endswith("_per_s"):
        return "1/s"
    if name == "engine.log.bytes":
        return "B"
    return "count"


if __name__ == "__main__":
    raise SystemExit(main())
