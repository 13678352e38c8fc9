#!/usr/bin/env python3
"""polarspark benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload ingest|tail|analytics --seed N \
        --seconds S --trace 0|1

Run from the root of a checkout. The first run builds the library and the
harness (`perfbench/build.sbt`) into `.bench_build/`. This process is the
load generator; the system under test is a separate JVM
(`perfbench.Harness`) hosting the library in one Spark session. Every
metric is printed by name with its unit, then a correctness verdict; the
last line is one JSON object for machines. See perfbench/README.md.
"""
import argparse
import base64
import bisect
import http.client
import json
import os
import queue
import random
import shutil
import signal
import socket
import statistics
import struct
import subprocess
import sys
import threading
import time
import zlib

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
BUILD = os.path.join(REPO, ".bench_build")


def spark_home():
    """$SPARK_HOME, else the first `spark-submit` on PATH whose install
    carries its jars (a pip pyspark wrapper does not)."""
    if os.environ.get("SPARK_HOME"):
        return os.environ["SPARK_HOME"]
    for d in os.environ.get("PATH", "").split(os.pathsep):
        submit = os.path.join(d, "spark-submit")
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
        if os.path.isfile(submit) and os.path.isdir(os.path.join(home, "jars")):
            return home
    return ""


SPARK_HOME = spark_home()
TOPIC = "bench"
KIB = 1024

# ---------------------------------------------------------------- workloads
# ingest: open-loop rate (about a third of the produce path's capacity on a
# 4-core host), connections, and the saturation phase's in-flight window
OPEN_RATE = 4000
CONNECTIONS = 2
MAX_INFLIGHT = 32768         # frames per connection; stream ids are u16
SAT_WINDOW = MAX_INFLIGHT    # the saturation phase's in-flight window
SAT_COUNT = 40000            # messages in each saturation burst
WINDOWS = 3                  # measured open-loop windows and bursts per run
WARMUP = 2000                # messages produced while setting up
WARM_SECONDS = 10            # untimed open loop before the measured one
LATE_LIMIT_S = 0.5           # a run whose generator fell further behind is invalid
# tail: backlog size, live produce rate, group size
BACKLOG = 8000
LIVE_RATE = 1000
MEMBERS = 2
# analytics: read-only polar_* gates over the shared topics, and
# AvailableNow stream_* drains (a subset of each list: see README)
POLAR_GATES = [
    "polar_ts_window", "polar_consumer_groups", "polar_agg_pushdown", "polar_topn_pushdown",
    "polar_poll_binary", "polar_meta_tables", "polar_changes_batch",
    "polar_key_pushdown", "polar_history"]
STREAM_GATES = ["stream_windowed_agg"]
WARM_PASSES = 2              # untimed gate passes after the cold one
MIN_PASSES = 3               # timed gate passes, at the least
STEAL_LIMIT_PCT = 1.0        # host steal above which a timed pass is run again
MAX_STOLEN = 2
SETUP_REPEATS = 3

END_TO_END = [  # name, unit
    ("setup_s", "s"), ("lat_p50_ms", "ms"), ("lat_p99_ms", "ms"),
    ("rate_per_s", "1/s")]

WORDS = ("ack apple batch bridge broker cable candle carbon cluster column "
         "commit copper crystal delta drift engine falcon fiber filter forest "
         "garden glacier harbor hash index island join kernel ladder lantern "
         "ledger marble merge meadow mirror offset orbit packet pepper planet "
         "quartz query raven ribbon river rocket saddle scan segment shadow "
         "signal silver socket spark stream summit table thunder timber token "
         "tunnel velvet vector window winter yellow zephyr").split()


def log(msg):
    print(msg, flush=True)


T0 = time.monotonic()


def phase(name):
    """Progress on stderr: the phase and the seconds since the run began."""
    print("[%7.2f] %s" % (time.monotonic() - T0, name), file=sys.stderr, flush=True)


# ------------------------------------------------------------------- inputs
class Payloads:
    """Seeded 1 KiB JSON records: a sequence id, a UUID, numbers, dictionary
    words and random text. Random text keeps zstd from hiding write cost.
    Half the records carry a partition key drawn Zipf-skewed from 1,000."""

    def __init__(self, seed, keys=1000):
        self.rng = random.Random(seed)
        weights = [1.0 / (k + 1) for k in range(keys)]
        total, acc = sum(weights), 0.0
        self.cdf = []
        for w in weights:
            acc += w / total
            self.cdf.append(acc)

    def key(self):
        r = self.rng
        if r.random() < 0.5:
            return None
        return "k%d" % min(bisect.bisect_left(self.cdf, r.random()), len(self.cdf) - 1)

    def body(self, seq, key):
        r = self.rng
        head = ('{"id":%d,"key":%s,"uuid":"%032x","n":[%d,%.6f,%d],"words":"%s","text":"'
                % (seq, json.dumps(key), r.getrandbits(128), r.getrandbits(31),
                   r.random() * 1e6, r.getrandbits(16),
                   " ".join(r.choice(WORDS) for _ in range(12))))
        pad = KIB - len(head) - 2
        text = base64.b64encode(r.randbytes(pad * 3 // 4 + 3))[:pad].decode()
        return (head + text + '"}').encode()


def payload_id(value):
    """The `id` of a payload built by Payloads.body."""
    end = value.index(b",", 6)
    return int(value[6:end])


# ---------------------------------------------------------- binary producer
def frame(stream_id, op, body, flags=0):
    head = struct.pack(">BBHBI", 1, flags, stream_id, op, len(body))
    return head + struct.pack(">I", zlib.crc32(head)) + body


class Producer:
    """One binary-transport connection: frames out from the caller's
    thread, acks in on a reader thread, matched by u16 stream id. At most
    MAX_INFLIGHT frames are outstanding, so a live id is never reused."""

    def __init__(self, port, topic):
        self.sock = socket.create_connection(("127.0.0.1", port))
        self.sock.setsockopt(socket.IPPROTO_TCP, socket.TCP_NODELAY, 1)
        self.topic = struct.pack(">B", len(topic)) + topic.encode()
        self.inflight = {}          # stream id -> (seq, due monotonic s)
        self.lock = threading.Condition()
        self.next_id = 0
        self.acks = []              # (seq, due, ack time)
        self.last_error = None
        self.sock.sendall(frame(0, 1, b""))
        head = self._recv_exact(13)
        if head[4] != 2:
            raise RuntimeError("binary startup refused")
        self.reader = threading.Thread(target=self._read_loop, daemon=True)
        self.reader.start()

    def _recv_exact(self, n):
        buf = b""
        while len(buf) < n:
            chunk = self.sock.recv(n - len(buf))
            if not chunk:
                raise EOFError
            buf += chunk
        return buf

    def _read_loop(self):
        buf = b""
        try:
            while True:
                chunk = self.sock.recv(1 << 16)
                if not chunk:
                    return
                now = time.monotonic()
                buf += chunk
                pos, done = 0, []
                while len(buf) - pos >= 13:
                    _, _, sid, op, blen = struct.unpack_from(">BBHBI", buf, pos)
                    if len(buf) - pos < 13 + blen:
                        break
                    if op != 5:
                        self.last_error = buf[pos + 14:pos + 13 + blen].decode("utf-8", "replace")
                    pos += 13 + blen
                    done.append((sid, op))
                buf = buf[pos:]
                with self.lock:
                    for sid, op in done:
                        seq, due = self.inflight.pop(sid, (None, None))
                        if seq is None:
                            continue
                        if op == 5:
                            self.acks.append((seq, due, now))
                    self.lock.notify_all()
        except OSError:
            return

    def send(self, batch, window=MAX_INFLIGHT):
        """batch: [(seq, due, ts_micros, key, body)]. Blocks while the
        in-flight window is full. Bodies are framed outside the lock the
        ack reader needs, so acks are stamped when they arrive."""
        msgs = []
        for seq, due, ts, key, body in batch:
            k = (key or "").encode()
            msgs.append((seq, due, struct.pack(">qB", ts, len(k)) + k + self.topic
                         + struct.pack(">I", len(body)) + body))
        i = 0
        while i < len(msgs):
            out = []
            with self.lock:
                while len(self.inflight) >= window:
                    self.lock.wait(0.05)
                while i < len(msgs) and len(self.inflight) < window:
                    seq, due, msg = msgs[i]
                    sid = self.next_id
                    while sid in self.inflight:
                        sid = (sid + 1) & 0xFFFF
                    self.next_id = (sid + 1) & 0xFFFF
                    self.inflight[sid] = (seq, due)
                    out.append(frame(sid, 4, msg, flags=1))
                    i += 1
            self.sock.sendall(b"".join(out))

    def drain(self, timeout):
        end = time.monotonic() + timeout
        with self.lock:
            while self.inflight and time.monotonic() < end:
                self.lock.wait(0.05)
            return len(self.inflight)

    def close(self):
        try:
            self.sock.shutdown(socket.SHUT_RDWR)
        except OSError:
            pass
        self.sock.close()
        self.reader.join(5)


class Generator:
    """The load generator: seeded payloads over CONNECTIONS binary
    connections. A key always goes to the same connection, so a key's send
    order is a single stream's order. Record timestamps (the creation time
    the generator stamps) rise strictly per connection."""

    def __init__(self, port, seed, connections=CONNECTIONS):
        self.payloads = Payloads(seed)
        self.conns = [Producer(port, TOPIC) for _ in range(connections)]
        self.seq = 0
        self.sent = 0
        self.last_ts = [0] * connections
        self.epoch0 = time.time() - time.monotonic()
        self.late_max = 0.0

    def _next(self, due):
        key = self.payloads.key()
        seq = self.seq
        self.seq += 1
        body = self.payloads.body(seq, key)
        c = (int(key[1:]) if key else seq) % len(self.conns)
        ts = max(self.last_ts[c] + 1, int((self.epoch0 + due) * 1e6))
        self.last_ts[c] = ts
        return c, (seq, due, ts, key, body)

    def open_loop(self, rate, seconds, tick=0.002):
        """Send on a fixed schedule whatever the acks do; every message is
        timed from its due time. Records how late the schedule ran."""
        n = int(rate * seconds)
        start = time.monotonic() + 0.05
        first_seq = self.seq
        i = 0
        while i < n:
            now = time.monotonic()
            upto = min(n, int((now - start) * rate) + 1)
            if upto <= i:
                time.sleep(min(tick, start + i / rate - now))
                continue
            self.late_max = max(self.late_max, now - (start + i / rate))
            per = [[] for _ in self.conns]
            for j in range(i, upto):
                c, m = self._next(start + j / rate)
                per[c].append(m)
            for c, ms in enumerate(per):
                if ms:
                    self.conns[c].send(ms)
            self.sent += upto - i
            i = upto
        return first_seq, self.seq

    def burst(self, n, window=SAT_WINDOW, chunk=256):
        """Send `n` messages closed-loop, as fast as acks allow."""
        while n > 0:
            self._chunk(min(chunk, n), window)
            n -= chunk

    def _chunk(self, k, window):
        per = [[] for _ in self.conns]
        for _ in range(k):
            c, m = self._next(time.monotonic())
            per[c].append(m)
        for c, ms in enumerate(per):
            if ms:
                self.conns[c].send(ms, window=window)
        self.sent += k

    def drain(self, timeout=60):
        return sum(p.drain(timeout) for p in self.conns)

    def acks(self, lo, hi):
        return [a for p in self.conns for a in p.acks if lo <= a[0] < hi]

    def last_error(self):
        return next((p.last_error for p in self.conns if p.last_error), None)

    def close(self):
        for p in self.conns:
            p.close()


# ------------------------------------------------------------ the JVM side
def sources_newer_than(stamp):
    if not os.path.exists(stamp):
        return True
    t = os.path.getmtime(stamp)
    for base in (os.path.join(REPO, "src", "main"), os.path.join(HERE, "src"),
                 os.path.join(HERE, "build.sbt")):
        if os.path.isfile(base):
            if os.path.getmtime(base) > t:
                return True
            continue
        for d, _, fs in os.walk(base):
            for f in fs:
                if os.path.getmtime(os.path.join(d, f)) > t:
                    return True
    return False


def build():
    stamp = os.path.join(BUILD, "build.stamp")
    if not sources_newer_than(stamp):
        return
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, SPARK_HOME=SPARK_HOME)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true -Xmx2g")
    with open(os.path.join(BUILD, "build.log"), "w") as out:
        rc = subprocess.call(["sbt", "--batch", "-Dsbt.log.noformat=true", "Compile/products"],
                             cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, timeout=840)
    if rc != 0:
        raise SystemExit("build failed, see .bench_build/build.log")
    with open(stamp, "w") as f:
        f.write(str(time.time()))


ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


class Jvm:
    """The process under test, driven over stdin/stdout."""

    def __init__(self, workdir, trace):
        self.workdir = workdir
        tmp = os.path.join(workdir, "tmp")
        os.makedirs(tmp, exist_ok=True)
        classes = os.path.join(BUILD, "target", "scala-2.13", "classes")
        cmd = ["java", "-Xmx3g", "-XX:+UseG1GC", "-XX:-UsePerfData"]
        for p in ADD_OPENS:
            cmd += ["--add-opens", p + "=ALL-UNNAMED"]
        cmd += ["-Djava.io.tmpdir=" + tmp,
                "-Dspark.local.dir=" + tmp,
                "-Dspark.sql.warehouse.dir=" + os.path.join(workdir, "warehouse"),
                "-Dderby.system.home=" + workdir,
                "-Dspark.ui.enabled=false",
                "-cp", classes + os.pathsep + os.path.join(SPARK_HOME, "jars", "*"),
                "perfbench.Harness", str(trace)]
        env = dict(os.environ)
        env["SPARK_GRAFT_CPUS"] = str(min(4, os.cpu_count() or 4))
        self.t_spawn = time.time()
        self.err = open(os.path.join(workdir, "jvm.log"), "w")
        self.proc = subprocess.Popen(cmd, cwd=workdir, env=env, stdin=subprocess.PIPE,
                                     stdout=subprocess.PIPE, stderr=self.err,
                                     text=True, bufsize=1)
        self.replies = queue.Queue()
        threading.Thread(target=self._pump, daemon=True).start()
        ready = self._reply(300)
        self.ready_s = time.time() - self.t_spawn
        self.pid = ready["pid"]

    def _pump(self):
        for line in self.proc.stdout:
            if line.startswith("@ "):
                self.replies.put(json.loads(line[2:]))
        self.replies.put(None)

    def _reply(self, timeout):
        try:
            r = self.replies.get(timeout=timeout)
        except queue.Empty:
            raise RuntimeError("harness did not answer within %ss" % timeout)
        if r is None:
            raise RuntimeError("harness exited (see %s/jvm.log)" % self.workdir)
        return r

    def call(self, *words, timeout=170):
        phase(words[0])
        self.proc.stdin.write(" ".join(str(w) for w in words) + "\n")
        self.proc.stdin.flush()
        r = self._reply(timeout)
        if "error" in r:
            raise RuntimeError("%s: %s" % (words[0], r["error"]))
        return r

    def rss_peak_mb(self):
        with open("/proc/%d/status" % self.pid) as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
        raise RuntimeError("no VmHWM for the harness")

    def stop(self):
        if self.proc.poll() is None:
            try:
                self.proc.stdin.write("quit\n")
                self.proc.stdin.flush()
                self.proc.wait(20)
            except (OSError, subprocess.TimeoutExpired):
                self.proc.kill()
                self.proc.wait()
        self.err.close()


# ------------------------------------------------------------------ helpers
def steal_sample():
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return (v[7] if len(v) > 7 else 0), sum(v)


def steal_pct(a, b):
    d = b[1] - a[1]
    return 100.0 * (b[0] - a[0]) / d if d > 0 else 0.0


def pct(xs, p):
    """Nearest-rank percentile of a non-empty list."""
    s = sorted(xs)
    return s[min(len(s) - 1, max(0, int(round(p / 100.0 * len(s) + 0.5)) - 1))]


def median_setup(jvm, prepare):
    """setup_s: JVM start to ready (once) plus the median of SETUP_REPEATS
    runs of the workload's own preparation. The last one is kept."""
    times = []
    for i in range(SETUP_REPEATS):
        t0 = time.monotonic()
        prepare(i, i == SETUP_REPEATS - 1)
        times.append(time.monotonic() - t0)
    return jvm.ready_s + statistics.median(times)


class Result:
    def __init__(self):
        self.e2e = {}
        self.named = []          # (name, value, unit): the workload's own names
        self.layer = {}
        self.attempted = 0
        self.failed = 0
        self.errors = []

    def name(self, n, v, unit):
        self.named.append((n, v, unit))


# ------------------------------------------------------------------- ingest
def run_ingest(jvm, args, res, wd):
    ports = {}

    def prepare(i, keep):
        # a fresh root and servers, warmed by a short produce burst
        root = os.path.join(wd, "root%d" % i)
        ports.update(jvm.call("serve", root))
        ports["root"] = root
        g = Generator(ports["binary"], args.seed)
        g.burst(WARMUP)
        g.drain()
        if keep:
            ports["gen"] = g
        else:
            g.close()
            jvm.call("unserve")

    res.e2e["setup_s"] = median_setup(jvm, prepare)
    gen = ports["gen"]
    # untimed warm-up at the measured rate: ack latency falls for the first
    # ~15 flushes of a fresh JVM as the produce path compiles, and measuring
    # on that slope made runs differ by 15 %
    gen.open_loop(OPEN_RATE, WARM_SECONDS)
    gen.drain()
    # the measured open loop runs as WINDOWS back-to-back schedules; each
    # reports its own percentiles and the run reports their medians, so a
    # short burst of host contention moves one window, not the result
    m0 = jvm.call("mark")
    s0 = steal_sample()
    spans = [gen.open_loop(OPEN_RATE, args.seconds / WINDOWS) for _ in range(WINDOWS)]
    m1 = jvm.call("mark")
    gen.drain()
    m2 = jvm.call("mark")
    lo, hi = spans[0][0], spans[-1][1]
    open_acks = gen.acks(lo, hi)
    res.layer["bench.gen_late_ms_max"] = gen.late_max * 1000.0
    lat = [(a[2] - a[1]) * 1000.0 for a in open_acks]
    per_window = [[(a[2] - a[1]) * 1000.0 for a in gen.acks(*sp)] for sp in spans]
    if gen.late_max > LATE_LIMIT_S:
        res.errors.append("generator fell %.0f ms behind its schedule" % (gen.late_max * 1000))
    # saturation: WINDOWS fixed bursts, each sent as fast as SAT_WINDOW frames
    # in flight per connection allow; a burst's rate is its acknowledged
    # messages over the time from its first send to its last ack
    rates, sat = [], []
    for _ in range(WINDOWS):
        slo = gen.seq
        t_first = time.monotonic()
        gen.burst(SAT_COUNT)
        gen.drain()
        burst = gen.acks(slo, gen.seq)
        rates.append(len(burst) / (max(a[2] for a in burst) - t_first))
        sat += burst
    m3 = jvm.call("mark")
    s1 = steal_sample()
    rate = statistics.median(rates)
    acked = sum(len(p.acks) for p in gen.conns)
    # an error frame or a missing ack is a failed produce
    res.attempted += gen.sent
    res.failed += gen.sent - acked
    if gen.sent > acked:
        res.errors.append("%d produces not acknowledged, last error: %s"
                          % (gen.sent - acked, gen.last_error()))
    if all(per_window):
        res.e2e["lat_p50_ms"] = statistics.median(pct(w, 50) for w in per_window)
        res.e2e["lat_p99_ms"] = statistics.median(pct(w, 99) for w in per_window)
    res.e2e["rate_per_s"] = rate
    res.name("ack_p50_ms", res.e2e.get("lat_p50_ms"), "ms")
    res.name("ack_p99_ms", res.e2e.get("lat_p99_ms"), "ms")
    res.name("ack_samples", len(lat), "count")
    res.name("msgs_per_s", rate, "msg/s")
    res.name("sat_window", SAT_WINDOW, "frames/conn")
    gen.close()
    check = jvm.call("check_log", ports["root"], TOPIC, acked)
    res.attempted += 1
    if not check["ok"]:
        res.failed += 1
        res.errors += check["errors"]
    res.name("log_records", check["records"], "count")
    steal = steal_pct(s0, s1)
    if args.trace:
        flushes_open = m1["flushes"] - m0["flushes"]
        flushes = m3["flushes"] - m0["flushes"]
        sm_open = jvm.call("summary", m0["ms"], m2["ms"])
        sm_sat = jvm.call("summary", m2["ms"], m3["ms"])
        sm_all = jvm.call("summary", m0["ms"], m3["ms"])
        fl = sm_open["flush"]
        job_ms = fl["job_ms"] / max(1, flushes_open)
        L = res.layer
        L["serving.flushes"] = flushes
        L["serving.records_per_flush"] = len(sat) / max(1, m3["flushes"] - m2["flushes"])
        L["serving.flush_period_ms"] = (m1["ms"] - m0["ms"]) / max(1, flushes_open)
        L["serving.queue_wait_ms_p50"] = (pct(lat, 50) - job_ms) if lat else 0.0
        L["spark.jobs_per_flush"] = fl["jobs"] / max(1, flushes_open)
        L["spark.tasks_per_flush"] = fl["tasks"] / max(1, flushes_open)
        L["spark.job_ms_per_flush"] = job_ms
        sfl = sm_sat["flush"]
        written_mb = len(sat) * KIB / 1048576.0
        L["spark.task_cpu_ms_per_mb_written"] = sfl["cpu_ms"] / max(1e-9, written_mb)
        spark_layer(L, sm_all)
        probe = jvm.call("probe_log", ports["root"], TOPIC,
                         int(len(open_acks) / max(1, flushes_open)), args.seed)
        log_layer(L, probe, flushes_total=m3["flushes"])
    return steal


def spark_layer(L, sm):
    q = max(1, sm["qe_count"])
    L["spark.analysis_ms"] = sm["analysis_ms"] / q
    L["spark.optimization_ms"] = sm["optimization_ms"] / q
    L["spark.planning_ms"] = sm["planning_ms"] / q
    L["spark.driver_gap_frac"] = sm["driver_gap_frac"]
    L["spark.scan_mb"] = sm["scan_mb"]
    L["spark.shuffle_mb"] = sm["shuffle_mb"]


def log_layer(L, probe, flushes_total):
    L["log.produce_ms_p50"] = probe["produce_ms_p50"]
    L["log.meta_read_ms"] = probe["meta_read_ms"]
    L["log.segments_total"] = probe["segments_total"]
    L["log.segments_per_flush"] = probe["segments_total"] / max(1, flushes_total)
    L["log.meta_doc_kb"] = probe["meta_doc_kb"]
    L["log.bytes_per_record"] = probe["data_bytes"] / max(1, probe["records_total"])
    L["log.commit_ms_p50"] = probe["commit_ms_p50"]


# --------------------------------------------------------------------- tail
class Member(threading.Thread):
    """One consumer-group member polling over HTTP with a binary Accept."""

    def __init__(self, port, cid, seen, lock):
        super().__init__(daemon=True)
        self.port, self.cid, self.seen, self.lock = port, cid, seen, lock
        self.conn = http.client.HTTPConnection("127.0.0.1", port, timeout=120)
        self.stop_flag = False
        self.polls = []              # (seconds, status)
        self.served = 0
        self.bytes = 0

    def call(self, method, path):
        self.conn.request(method, path, body=b"",
                          headers={"Accept": "application/octet-stream"})
        r = self.conn.getresponse()
        return r.status, r.read()

    def register(self):
        st, _ = self.call("PUT", "/v1/consumer/register?consumerId=%s&group=g&topic=%s"
                          "&onNewGroup=startFromEarliest" % (self.cid, TOPIC))
        if st != 200:
            raise RuntimeError("register %s: HTTP %d" % (self.cid, st))

    def run(self):
        while not self.stop_flag:
            t0 = time.monotonic()
            st, data = self.call("POST", "/v1/consumer/poll?consumerId=%s" % self.cid)
            now = time.monotonic()
            self.polls.append((now - t0, st))
            if st == 200:
                ids = parse_poll(data)
                self.served += len(ids)
                self.bytes += len(data)
                with self.lock:
                    for i in ids:
                        if i not in self.seen:
                            self.seen[i] = now
            elif st == 204:
                time.sleep(0.02)
            else:
                time.sleep(0.1)


def parse_poll(data):
    """Record ids from a binary poll response: u16 item count, then per
    item a header and its length-prefixed records."""
    n = struct.unpack_from(">H", data, 0)[0]
    pos, ids = 2, []
    for _ in range(n):
        tlen = data[pos + 13]
        pos += 14 + tlen + 8
        size = struct.unpack_from(">I", data, pos)[0]
        pos += 4
        end = pos + size
        while pos < end:
            vlen = struct.unpack_from(">I", data, pos + 8)[0]
            ids.append(payload_id(data[pos + 12:pos + 12 + 64]))
            pos += 12 + vlen
    return ids


def run_tail(jvm, args, res, wd):
    ports = {}

    def prepare(i, keep):
        root = os.path.join(wd, "root%d" % i)
        ports.update(jvm.call("serve", root))
        ports["root"] = root
        g = Generator(ports["binary"], args.seed)
        g.burst(BACKLOG)
        g.drain()
        if keep:
            ports["gen"] = g
        else:
            g.close()
            jvm.call("unserve")

    res.e2e["setup_s"] = median_setup(jvm, prepare)
    gen = ports["gen"]
    backlog_ids = set(range(gen.seq))
    backlog_failed = gen.seq - sum(len(p.acks) for p in gen.conns)
    seen, lock = {}, threading.Lock()
    members = [Member(ports["http"], "m%d" % i, seen, lock) for i in range(MEMBERS)]
    for m in members:
        m.register()
    m0 = jvm.call("mark")
    s0 = steal_sample()
    t0 = time.monotonic()
    for m in members:
        m.start()
    deadline = t0 + 120
    while time.monotonic() < deadline:
        with lock:
            if len(seen) >= len(backlog_ids):
                break
        time.sleep(0.01)
    with lock:
        t_drained = max(seen[i] for i in backlog_ids if i in seen) if seen else time.monotonic()
        drained = sum(1 for i in backlog_ids if i in seen)
    drain_rate = drained / (t_drained - t0)
    m1 = jvm.call("mark")
    # live phase: one producer connection at LIVE_RATE while both poll
    live = Generator(ports["binary"], args.seed + 1, connections=1)
    live.seq = gen.seq
    lo, hi = live.open_loop(LIVE_RATE, args.seconds)
    res.layer["bench.gen_late_ms_max"] = live.late_max * 1000.0
    if live.late_max > LATE_LIMIT_S:
        res.errors.append("generator fell %.0f ms behind its schedule" % (live.late_max * 1000))
    live.drain()
    deadline = time.monotonic() + 60
    while time.monotonic() < deadline:
        with lock:
            if all(i in seen for i in range(lo, hi)):
                break
        time.sleep(0.02)
    m2 = jvm.call("mark")
    s1 = steal_sample()
    for m in members:
        m.stop_flag = True
    for m in members:
        m.join(130)
    due = {}
    for a in live.acks(lo, hi):
        due[a[0]] = a[1]
    deliver = [(seen[i] - due[i]) * 1000.0 for i in range(lo, hi) if i in seen and i in due]
    ack_lat = [(a[2] - a[1]) * 1000.0 for a in live.acks(lo, hi)]
    undelivered = sum(1 for i in list(backlog_ids) + list(range(lo, hi)) if i not in seen)
    polls = [p for m in members for p in m.polls]
    bad_polls = [p[1] for p in polls if p[1] not in (200, 204)]
    if bad_polls:
        res.errors.append("%d polls answered HTTP %s" % (len(bad_polls), sorted(set(bad_polls))))
    live_unacked = hi - lo - len(ack_lat)
    if backlog_failed or live_unacked:
        res.errors.append("%d produces not acknowledged, last error: %s"
                          % (backlog_failed + live_unacked, gen.last_error() or live.last_error()))
    res.attempted += len(backlog_ids) + (hi - lo) + len(polls)
    res.failed += backlog_failed + live_unacked + undelivered + len(bad_polls)
    if undelivered:
        res.errors.append("%d produced records never reached a group member" % undelivered)
    if deliver:
        res.e2e["lat_p50_ms"] = pct(deliver, 50)
        res.e2e["lat_p99_ms"] = pct(deliver, 99)
    res.e2e["rate_per_s"] = drain_rate
    res.name("deliver_p50_ms", res.e2e.get("lat_p50_ms"), "ms")
    res.name("deliver_p99_ms", res.e2e.get("lat_p99_ms"), "ms")
    res.name("deliver_samples", len(deliver), "count")
    res.name("drain_records_per_s", drain_rate, "rec/s")
    res.name("ack_p50_ms", pct(ack_lat, 50) if ack_lat else None, "ms")
    res.name("ack_p99_ms", pct(ack_lat, 99) if ack_lat else None, "ms")
    served = sum(m.served for m in members)
    res.name("redelivered_frac", (served - len(seen)) / max(1, served), "ratio")
    gen.close()
    live.close()
    if args.trace:
        L = res.layer
        times = sorted(p[0] * 1000.0 for p in polls)
        L["serving.poll_ms_p50"] = pct(times, 50)
        L["serving.poll_ms_p99"] = pct(times, 99)
        L["serving.poll_empty_frac"] = sum(1 for p in polls if p[1] == 204) / max(1, len(polls))
        flushes = m2["flushes"] - m1["flushes"]
        L["serving.flushes"] = flushes
        L["serving.records_per_flush"] = (hi - lo) / max(1, flushes)
        L["serving.flush_period_ms"] = (m2["ms"] - m1["ms"]) / max(1, flushes)
        L["log.redelivered_frac"] = (served - len(seen)) / max(1, served)
        sm_all = jvm.call("summary", m0["ms"], m2["ms"])
        sm_live = jvm.call("summary", m1["ms"], m2["ms"])
        n200 = max(1, sum(1 for p in polls if p[1] == 200))
        L["spark.jobs_per_poll"] = sm_all["poll"]["jobs"] / n200
        L["spark.job_ms_per_poll"] = sm_all["poll"]["job_ms"] / n200
        fl = sm_live["flush"]
        L["spark.jobs_per_flush"] = fl["jobs"] / max(1, flushes)
        L["spark.tasks_per_flush"] = fl["tasks"] / max(1, flushes)
        L["spark.job_ms_per_flush"] = fl["job_ms"] / max(1, flushes)
        served_mb = sum(m.bytes for m in members) / 1048576.0
        L["log.poll_read_amplification"] = sm_all["poll"]["input_mb"] / max(1e-9, served_mb)
        spark_layer(L, sm_all)
        conn = http.client.HTTPConnection("127.0.0.1", ports["http"], timeout=60)
        conn.request("GET", "/v1/consumer/groups/lag?group=g&topic=%s" % TOPIC)
        lag = json.loads(conn.getresponse().read())
        conn.close()
        L["log.lag_records_end"] = sum(p["lag"] for p in lag["partitions"])
        probe = jvm.call("probe_log", ports["root"], TOPIC,
                         int((hi - lo) / max(1, flushes)), args.seed)
        log_layer(L, probe, flushes_total=m2["flushes"])
    return steal_pct(s0, s1)


# ---------------------------------------------------------------- analytics
def write_tables(d, seed):
    """The fixture tables the polar_* and stream_* gates read, generated
    from the seed with the shapes of the engine's test fixtures."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq
    rng = np.random.default_rng(seed)
    os.makedirs(d, exist_ok=True)
    n = 10000
    step = rng.integers(1, 520_000_000, n)     # micros between events
    ts = np.datetime64("2024-01-01T00:00:00", "us") + np.cumsum(step).astype("timedelta64[us]")
    types = np.array(["click", "signup", "error", "view", "purchase"])
    pq.write_table(pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(ts),
        "user_id": pa.array(rng.integers(0, 150, n).astype(np.int64)),
        "event_type": pa.array(types[rng.integers(0, 5, n)]),
        "value": pa.array(np.round(rng.uniform(0.01, 490.02, n), 2)),
        "props": pa.array(['{"k": %d}' % k for k in rng.integers(0, 100, n)]),
    }), os.path.join(d, "events.parquet"))
    vocab = np.array("join hash row batch scan column customer filter small slow merge "
                     "order vector line table data agg value key stream window a spark "
                     "part group big sort query fast the".split())
    langs = np.array(["en", "en", "en", "zh", "de", "fr", "es"])
    docs = [" ".join(vocab[rng.integers(0, len(vocab), int(rng.integers(8, 90)))])
            for _ in range(500)]
    pq.write_table(pa.table({
        "doc_id": pa.array(np.arange(500, dtype=np.int64)),
        "text": pa.array(docs),
        "lang": pa.array(langs[rng.integers(0, len(langs), 500)]),
        "source": pa.array(["src%d" % (i % 20) for i in range(500)]),
        "n_chars": pa.array(np.array([len(t) for t in docs], dtype=np.int64)),
    }), os.path.join(d, "documents.parquet"))
    labels = rng.integers(0, 10, 500).astype(np.int32)
    centers = rng.normal(size=(10, 64))
    vec = centers[labels] + rng.normal(scale=0.8, size=(500, 64))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    pq.write_table(pa.table({
        "vec_id": pa.array(np.arange(500, dtype=np.int64)),
        "embedding": pa.array(list(vec), type=pa.list_(pa.float32())),
        "label": pa.array(labels),
    }), os.path.join(d, "embeddings.parquet"))


def run_analytics(jvm, args, res, wd):
    data = os.path.join(wd, "data")
    write_tables(os.path.join(data, "0"), args.seed)
    gates = POLAR_GATES + STREAM_GATES
    dirs = []

    def prepare(i, keep):
        # each repeat builds the shared topic fixtures for its own copy of
        # the tables (the fixtures are cached per table directory)
        d = os.path.join(data, str(i))
        if i:
            shutil.copytree(os.path.join(data, "0"), d)
        jvm.call("analytics_setup", d)
        dirs.append(d)

    res.e2e["setup_s"] = median_setup(jvm, prepare)
    d = dirs[-1]
    # the correctness dump is also the untimed warm pass: first-touch
    # codegen and registries land in it, not in the timed passes
    out = os.path.join(wd, "verify")
    r = jvm.call("verify", d, out, ",".join(gates))
    res.attempted += len(gates)
    res.failed += len(r["errors"])
    res.errors += r["errors"]

    def gate_pass():
        r = jvm.call("gates", d, ",".join(gates))
        res.attempted += len(gates)
        res.failed += len(r["errors"])
        res.errors += r["errors"]
        return r

    # gate times keep falling for the first passes after the cold one as
    # the scan and planning paths compile; timing on that slope made runs
    # differ by 15-30 %, so WARM_PASSES untimed passes come first
    for _ in range(WARM_PASSES):
        gate_pass()
    # a pass during which the hypervisor stole more than STEAL_LIMIT_PCT of
    # the host's CPU time is run again, at most MAX_STOLEN times a run: that
    # time is lost to other tenants, not spent by the program
    passes, stolen = [], 0
    m0 = jvm.call("mark")
    s0 = steal_sample()
    t_end = time.monotonic() + args.seconds
    while len(passes) < MIN_PASSES or time.monotonic() < t_end:
        a = steal_sample()
        r = gate_pass()
        if steal_pct(a, steal_sample()) > STEAL_LIMIT_PCT and stolen < MAX_STOLEN:
            stolen += 1
        else:
            passes.append(r)
    m1 = jvm.call("mark")
    s1 = steal_sample()
    # medians over passes, so a stall moves one pass rather than the result;
    # ten gates are too few for percentiles, and a single middle gate's time
    # spread more between runs than a pass's mean
    query_s = statistics.median(sum(p["times"][g] for g in POLAR_GATES) for p in passes)
    stream_s = statistics.median(sum(p["times"][g] for g in STREAM_GATES) for p in passes)
    pass_s = statistics.median(sum(p["times"].values()) for p in passes)
    res.e2e["lat_p50_ms"] = query_s / len(POLAR_GATES) * 1000.0
    res.e2e["lat_p99_ms"] = stream_s / len(STREAM_GATES) * 1000.0
    res.e2e["rate_per_s"] = len(gates) / pass_s
    res.name("query_s", query_s, "s")
    res.name("stream_s", stream_s, "s")
    res.name("passes", len(passes), "count")
    res.name("passes_stolen", stolen, "count")
    res.name("gates_per_s", res.e2e["rate_per_s"], "1/s")
    # correctness: the dumped gate outputs against the DuckDB oracle
    mismatches = oracle_check(d, out)
    res.failed += len(mismatches)
    res.errors += mismatches
    if args.trace:
        L = res.layer
        sm = jvm.call("summary", m0["ms"], m1["ms"])
        spark_layer(L, sm)
        n = len(passes) + stolen
        L["spark.scan_mb"] = sm["scan_mb"] / n
        L["spark.shuffle_mb"] = sm["shuffle_mb"] / n
        L["streaming.batches"] = sm["batches"] / n
        L["streaming.batch_ms_p50"] = sm["batch_ms_p50"]
        for k in ("latest_offset_ms", "query_planning_ms", "add_batch_ms",
                  "wal_commit_ms", "commit_offsets_ms"):
            L["streaming." + k] = sm[k] / n
        L["streaming.state_mb"] = sm["state_mb"]
        L["queries.query_s"] = query_s
        L["queries.stream_s"] = stream_s
        for g in gates:
            L["gate.%s_s" % g] = statistics.median(p["times"][g] for p in passes)
    return steal_pct(s0, s1)


def oracle_check(sf_dir, out_dir):
    """DuckDB oracle comparison with the repository's own checker."""
    checker = os.path.join(REPO, "tools", "check_oracle.py")
    p = subprocess.run([sys.executable, checker, sf_dir, out_dir], capture_output=True,
                       text=True, timeout=170)
    bad = [ln for ln in p.stdout.splitlines() if ln.startswith("FAIL")]
    if p.returncode != 0 and not bad:
        bad = ["oracle checker exited %d: %s" % (p.returncode, p.stderr.strip()[-300:])]
    return bad


# --------------------------------------------------------------------- main
LAYER_METRICS = [  # name, unit: reported by every traced run, 0 where a
    # workload does not exercise the layer
    ("serving.flushes", "count"), ("serving.records_per_flush", "count"),
    ("serving.flush_period_ms", "ms"), ("serving.queue_wait_ms_p50", "ms"),
    ("serving.poll_ms_p50", "ms"), ("serving.poll_ms_p99", "ms"),
    ("serving.poll_empty_frac", "ratio"),
    ("log.produce_ms_p50", "ms"), ("log.meta_read_ms", "ms"),
    ("log.segments_per_flush", "count"), ("log.segments_total", "count"),
    ("log.meta_doc_kb", "KiB"), ("log.bytes_per_record", "B"),
    ("log.commit_ms_p50", "ms"), ("log.redelivered_frac", "ratio"),
    ("log.poll_read_amplification", "ratio"), ("log.lag_records_end", "count"),
    ("spark.jobs_per_flush", "count"), ("spark.tasks_per_flush", "count"),
    ("spark.job_ms_per_flush", "ms"), ("spark.jobs_per_poll", "count"),
    ("spark.job_ms_per_poll", "ms"), ("spark.task_cpu_ms_per_mb_written", "ms/MB"),
    ("spark.analysis_ms", "ms"), ("spark.optimization_ms", "ms"),
    ("spark.planning_ms", "ms"), ("spark.driver_gap_frac", "ratio"),
    ("spark.scan_mb", "MB"), ("spark.shuffle_mb", "MB"),
    ("streaming.batches", "count"), ("streaming.batch_ms_p50", "ms"),
    ("streaming.latest_offset_ms", "ms"), ("streaming.query_planning_ms", "ms"),
    ("streaming.add_batch_ms", "ms"), ("streaming.wal_commit_ms", "ms"),
    ("streaming.commit_offsets_ms", "ms"), ("streaming.state_mb", "MB"),
    ("queries.query_s", "s"), ("queries.stream_s", "s"),
] + [("gate.%s_s" % g, "s") for g in POLAR_GATES + STREAM_GATES] + [
    ("jvm.gc_ms", "ms"), ("jvm.heap_peak_mb", "MB"), ("jvm.rss_peak_mb", "MB"),
    ("host.steal_pct", "%"),
    ("bench.gen_late_ms_max", "ms"), ("bench.failed_frac", "ratio"),
] + [("traced." + n, u) for n, u in END_TO_END]

WORKLOADS = {"ingest": run_ingest, "tail": run_tail, "analytics": run_analytics}


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=6)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.isdir(os.path.join(REPO, "src", "main", "scala", "graft")):
        sys.exit("no library sources at %s/src: run from a full checkout" % REPO)
    if not os.path.isdir(os.path.join(SPARK_HOME, "jars")):
        sys.exit("no Spark jars: set SPARK_HOME or put spark-submit on PATH")
    build()

    run_id = "%s-s%d-t%d" % (args.workload, args.seed, args.trace)
    wd = os.path.join(BUILD, "runs", run_id)
    shutil.rmtree(wd, ignore_errors=True)
    os.makedirs(wd)
    res = Result()
    s_run0 = steal_sample()
    jvm = Jvm(wd, args.trace)
    try:
        window_steal = WORKLOADS[args.workload](jvm, args, res, wd)
        res.layer["jvm.rss_peak_mb"] = jvm.rss_peak_mb()
        res.name("rss_peak_mb", res.layer["jvm.rss_peak_mb"], "MB")
        if args.trace:
            j = jvm.call("jvm")
            res.layer["jvm.gc_ms"] = j["gc_ms"]
            res.layer["jvm.heap_peak_mb"] = j["heap_peak_mb"]
    finally:
        jvm.stop()
        # topics and Spark scratch run to ~150 MB a run; keep only the log
        for entry in os.listdir(wd):
            if entry != "jvm.log":
                path = os.path.join(wd, entry)
                shutil.rmtree(path) if os.path.isdir(path) else os.remove(path)
    steal = steal_pct(s_run0, steal_sample())
    res.name("steal_pct", steal, "%")
    res.name("window_steal_pct", window_steal, "%")
    missing = [n for n, _ in END_TO_END if n not in res.e2e]
    if missing:
        res.errors.append("no value for " + ", ".join(missing))
    correct = not res.errors and res.failed == 0

    log("workload %s seed %d seconds %d trace %d" % (args.workload, args.seed,
                                                     args.seconds, args.trace))
    for n, u in END_TO_END:
        log("metric %-22s %14.4f %s" % (n, res.e2e.get(n, float("nan")), u))
    for n, v, u in res.named:
        log("named  %-22s %14s %s" % (n, "n/a" if v is None else "%.4f" % v, u))
    log("named  %-22s %14.6f %s" % ("failed_frac", res.failed / max(1, res.attempted),
                                    "ratio"))
    metrics = {}
    if args.trace:
        res.layer["host.steal_pct"] = window_steal
        res.layer["bench.failed_frac"] = res.failed / max(1, res.attempted)
        for n, _ in END_TO_END:
            res.layer["traced." + n] = res.e2e.get(n, 0.0)
        for n, u in LAYER_METRICS:
            metrics[n] = {"value": float(res.layer.get(n, 0.0)), "unit": u}
            log("layer  %-36s %14.4f %s" % (n, metrics[n]["value"], u))
        report_overhead(args, res)
    else:
        for n, u in END_TO_END:
            metrics[n] = {"value": res.e2e.get(n, 0.0), "unit": u}
    record = {"e2e": res.e2e, "layer": res.layer, "named": res.named}
    with open(os.path.join(BUILD, "runs", run_id + ".json"), "w") as f:
        json.dump(record, f)
    for e in res.errors[:20]:
        log("error  " + str(e))
    log("correctness %s (%d of %d operations failed)" % ("PASS" if correct else "FAIL",
                                                          res.failed, res.attempted))
    print(json.dumps({"correct": correct, "attempted": res.attempted,
                      "failed": res.failed, "metrics": metrics}), flush=True)


def report_overhead(args, res):
    """Tracing overhead: this traced run's end-to-end numbers minus those of
    the untraced run of the same workload and seed, when one was made."""
    path = os.path.join(BUILD, "runs", "%s-s%d-t0.json" % (args.workload, args.seed))
    if not os.path.exists(path):
        log("overhead n/a (no untraced run of this workload and seed yet)")
        return
    with open(path) as f:
        base = json.load(f)["e2e"]
    for n, u in END_TO_END:
        if n in base and n in res.e2e:
            log("overhead %-20s %+14.4f %s" % (n, res.e2e[n] - base[n], u))


if __name__ == "__main__":
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    main()
