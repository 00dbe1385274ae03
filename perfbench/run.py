"""Serving benchmark of the bgpexplorer daemon: set-up time and
route-query latency on a quiet and on a freshly churned RIB, with the
ingest path's freshness traced per layer.

    python3 perfbench/run.py --workload lookup|ingest --seed N \
        --seconds S --trace 0|1

Run from the repository root. The daemon runs in its own process
(``launcher.py serve``) exactly as ``daemon.run_from_ini`` builds it from
the shipped ``bgpexplorer.ini``; this process is the load generator: two
HTTP clients (``lookup``), or one BGP session, one ``/api/ws``
subscriber and one HTTP client (``ingest``). It checks every answer against the seeded ground
truth (``model.py``) and prints, as its last stdout line, one JSON
object: ``correct``, ``attempted``, ``failed`` and ``metrics`` (the
end-to-end metrics untraced, the per-layer ones with ``--trace 1``).
It exits 1 when a check failed and 2 when it cannot run at all.
See README.md for the workloads and metrics.
"""

from __future__ import annotations

import argparse
import base64
import configparser
import hashlib
import json
import os
import platform
import queue
import shutil
import socket
import statistics
import struct
import subprocess
import sys
import threading
import time
import traceback
import urllib.error
import urllib.request

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CACHE = os.path.join(HERE, ".cache")
sys.path[:0] = [HERE, ROOT]

# one RIB for every seed: the snapshot is built once per checkout (the
# seed varies the query stream and the churn); see README.md
RIB_SEED = 1
SCALE = dict(v4=24000, v6=2400, vpn=2400, dump=2000)
CLIENTS = 2               # closed-loop HTTP clients
# lookup: each client sends --seconds / QUERY_S route queries (QUERY_S is
# about one query's latency with both clients busy on a 4-core box)
QUERY_S = 2.5
SETUP_BOOTS = 3           # daemon boots per run; setup_s is their median
# a traced lookup run asks one of these (by seed) after its window
REPORTS = ("/api/statistics", "/api/analytics/moas", "/api/analytics/hijacks",
           "/api/analytics/relationships")
# probe interval, s; the feed's per-subscriber queue holds 64 events, so
# a micro-batch (up to 12 s long here) must carry fewer probes
PROBE_EVERY = 0.2
DUMP_PROBE = 1 << 16      # the End-of-RIB probe
HTTP_TIMEOUT = 120.0      # the reference's httptimeout
# every run: set-up, then the workload's window, sized from
# ``--seconds``; see README.md for why these two
WORKLOADS = {
    # closed-loop reads, a fixed number per client (QUERY_S)
    "lookup": dict(churn_rate=0.0),
    # the router's table dump, open-loop churn at this many updates/s
    # for CHURN_SHARE of --seconds, then lookup's reads of what it left
    "ingest": dict(churn_rate=300.0),
}
CHURN_SHARE = 0.4
# files whose change must rebuild the cached snapshot
SNAPSHOT_CODE = ("perfbench/model.py", "perfbench/launcher.py",
                 "bgpexplorer_spark/operators/ingest.py",
                 "bgpexplorer_spark/operators/rib.py",
                 "bgpexplorer_spark/snapshotd.py", "bgpexplorer_spark/schemas.py",
                 "bgpexplorer_spark/sources/mrt.py", "bgpexplorer.ini")


T_START = time.monotonic()


def log(msg: str) -> None:
    print(f"[perfbench {time.monotonic() - T_START:6.1f}] {msg}", file=sys.stderr, flush=True)


# -- environment and snapshot ---------------------------------------------------

def environment(workload: str, seed: int) -> dict:
    commit = None
    head = os.path.join(ROOT, ".git", "HEAD")
    if os.path.exists(head):
        try:
            commit = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"],
                                    capture_output=True, text=True,
                                    timeout=10).stdout.strip() or None
        except OSError:
            pass
    import pyspark

    return dict(workload=workload, seed=seed, nproc=os.cpu_count(),
                loadavg_start=os.getloadavg(), pyspark=pyspark.__version__,
                python=platform.python_version(), commit=commit)


def snapshot_dir(env: dict) -> str:
    """The cached engine-built snapshot of the seeded RIB; built on first
    use. The key covers the scale and the code that writes the format."""
    h = hashlib.sha256(json.dumps(SCALE, sort_keys=True).encode())
    for rel in SNAPSHOT_CODE:
        with open(os.path.join(ROOT, rel), "rb") as f:
            h.update(f.read())
    out = os.path.join(CACHE, f"snap-{RIB_SEED}-{h.hexdigest()[:16]}")
    if os.path.exists(os.path.join(out, "snap", "CURRENT")):
        return os.path.join(out, "snap")
    shutil.rmtree(CACHE, ignore_errors=True)
    tmp = out + ".tmp"
    os.makedirs(tmp)
    log(f"building snapshot {os.path.basename(out)}")
    t0 = time.monotonic()
    proc = subprocess.Popen(
        [sys.executable, os.path.join(HERE, "launcher.py"), "build",
         "--seed", str(RIB_SEED), "--scale", json.dumps(SCALE),
         "--ini", os.path.join(ROOT, "bgpexplorer.ini"), "--out", tmp],
        stdout=subprocess.DEVNULL, env=env, start_new_session=True)
    try:
        rc = proc.wait(timeout=800)
    finally:
        kill_group(proc)
    if rc != 0:
        raise RuntimeError(f"snapshot build exited with {rc}")
    os.rename(tmp, out)
    log(f"snapshot built in {time.monotonic() - t0:.1f} s")
    return os.path.join(out, "snap")


def write_ini(path: str, snap: str) -> None:
    """The shipped bgpexplorer.ini with local listen addresses and the
    benchmark's snapshot. The shipped dial-out peer targets a router
    that is not there, so it is left out; the generator connects to the
    passive BGP listener instead."""
    cp = configparser.ConfigParser()
    cp.read(os.path.join(ROOT, "bgpexplorer.ini"))
    m = cp["main"]
    m["httplisten"] = "127.0.0.1:0"
    m["protolisten"] = "127.0.0.1:0"
    m["snapshot"] = snap
    m["whoisjsonconfig"] = os.path.join(ROOT, m.get("whoisjsonconfig", "whois.json"))
    for name in cp.sections():
        mode = cp[name].get("mode", "")
        if mode == "bgpactive":
            cp.remove_section(name)
        elif mode == "bmppassive":
            cp[name]["listen"] = "127.0.0.1:0"
    with open(path, "w", encoding="ascii") as f:
        cp.write(f)


# -- the daemon process -------------------------------------------------------

def kill_group(proc: subprocess.Popen) -> None:
    """Kill the process group ``proc`` leads (started with
    ``start_new_session``) and wait until every process in it has ended."""
    try:
        os.killpg(proc.pid, 9)
    except ProcessLookupError:
        pass
    proc.wait()
    end = time.monotonic() + 60
    while time.monotonic() < end:
        alive = False
        for pid in filter(str.isdigit, os.listdir("/proc")):
            try:
                with open(f"/proc/{pid}/stat", "rb") as f:
                    stat = f.read()
            except OSError:
                continue
            fields = stat[stat.rindex(b")") + 2:].split()
            alive |= int(fields[2]) == proc.pid and fields[0] != b"Z"
        if not alive:
            return
        time.sleep(0.05)


class Daemon:
    """``launcher.py serve`` driven over stdin/stdout."""

    def __init__(self, ini: str, work: str, trace: bool, env: dict):
        self.events: queue.Queue = queue.Queue()
        self.log = open(os.path.join(work, "launcher.log"), "wb")
        cmd = [sys.executable, os.path.join(HERE, "launcher.py"), "serve",
               "--ini", ini, "--work", os.path.join(work, "daemon")] \
            + (["--trace"] if trace else [])
        self.t_spawn = time.monotonic()
        # its own process group: the JVM and any Python workers it forks
        # are stopped with it
        self.proc = subprocess.Popen(cmd, stdin=subprocess.PIPE,
                                     stdout=subprocess.PIPE, stderr=self.log,
                                     env=env, cwd=ROOT, start_new_session=True)
        self.reader = threading.Thread(target=self._read, daemon=True)
        self.reader.start()

    def _read(self) -> None:
        for raw in self.proc.stdout:
            line = raw.decode("utf-8", "replace")
            if line.startswith("@@pb "):
                self.events.put(json.loads(line[5:]))
        self.events.put({"event": "exited"})

    def send(self, **cmd) -> None:
        self.proc.stdin.write((json.dumps(cmd) + "\n").encode())
        self.proc.stdin.flush()

    def expect(self, event: str, timeout: float) -> dict:
        ev = self.events.get(timeout=timeout)
        if ev["event"] != event:
            raise RuntimeError(f"daemon sent {ev['event']!r}, expected {event!r}")
        return ev

    def close(self) -> None:
        """Kill the launcher's whole process group (nothing it would
        write on a graceful stop is kept) and wait until every process
        in it has ended."""
        kill_group(self.proc)
        self.reader.join(timeout=10)
        self.log.close()


# -- HTTP --------------------------------------------------------------------

def http_get(port: int, path: str, rid: str | None = None):
    req = urllib.request.Request(f"http://127.0.0.1:{port}{path}")
    if rid is not None:
        req.add_header("X-Request-Id", rid)
    with urllib.request.urlopen(req, timeout=HTTP_TIMEOUT) as r:
        return json.loads(r.read())


class Reads:
    """Closed-loop HTTP clients sending route queries, each checked
    against the seeded truth. Each client sends ``per_client`` queries:
    a fixed amount of work, so every run times the same query kinds."""

    def __init__(self, port: int, rib, seed: int):
        import model

        self.port, self.rib = port, rib
        self.gens = [model.QueryGen(rib, seed, stream=i) for i in range(CLIENTS)]
        self.route_ms: list[float] = []
        self.report_ms: list[float] = []
        self.lat: dict[str, float] = {}   # route request id → latency, s
        self.attempted = self.failed = self.routes_returned = 0
        self.errors: list[str] = []
        self.lock = threading.Lock()
        self.per_client = 0

    def run(self, per_client: int) -> None:
        """All clients, until each has sent ``per_client`` queries."""
        self.per_client = per_client
        threads = [threading.Thread(target=self._client, args=(i,))
                   for i in range(CLIENTS)]
        for t in threads:
            t.start()
        for t in threads:
            t.join()

    def record(self, rid: str, dt: float, ans, why: str | None,
               kind: str = "route") -> None:
        """Count one answered (or failed, ``why``) request of ``kind``
        route (timed as a route query), report or check (not timed)."""
        with self.lock:
            self.attempted += 1
            if why is not None:
                self.failed += 1
                if len(self.errors) < 20:
                    self.errors.append(why)
            elif kind == "report":
                self.report_ms.append(1000 * dt)
            elif kind == "route":
                self.route_ms.append(1000 * dt)
                self.lat[rid] = dt
                self.routes_returned += len(ans["items"])

    def _client(self, i: int) -> None:
        import model

        for n in range(1, self.per_client + 1):
            rid = f"c{i}-{n}"
            q = self.gens[i].next()
            t0 = time.perf_counter()
            try:
                ans = http_get(self.port, q.path(), rid)
            except (OSError, ValueError, urllib.error.URLError) as e:
                self.record(rid, 0.0, None, f"{q.path()}: {e}")
                continue
            self.record(rid, time.perf_counter() - t0, ans, model.check_answer(q, ans))

    def report(self, path: str) -> None:
        """One dashboard report, checked and timed."""
        t0 = time.perf_counter()
        try:
            ans = http_get(self.port, path, "r-1")
        except (OSError, ValueError, urllib.error.URLError) as e:
            self.record("r-1", 0.0, None, f"{path}: {e}", kind="report")
            return
        self.record("r-1", time.perf_counter() - t0, ans,
                    self._check_report(path, ans), kind="report")

    def _check_report(self, path: str, ans) -> str | None:
        rib = self.rib
        if path.endswith("statistics"):
            r = ans.get("ribs", {})
            if (r.get("ipv6u"), r.get("vpnv4u")) != (len(rib.v6), len(rib.vpn)) \
                    or r.get("ipv4u", 0) < len(rib.v4):
                return f"statistics: ribs {r}"
            return None
        if not isinstance(ans, list):
            return f"{path}: not a list"
        if path.endswith("moas"):
            got = sorted(x["nlri"] for x in ans)
            return None if got == rib.moas() else f"moas: {len(got)} != {len(rib.moas())}"
        if path.endswith("hijacks"):
            got = {(x["prefix"], x["origin_as"]) for x in ans}
            want = rib.hijacks()
            return None if got == want else f"hijacks: {len(got)} != {len(want)}"
        return None if ans else "relationships: empty"


# -- WebSocket subscriber ------------------------------------------------------

class Subscriber:
    """``/api/ws`` client subscribed to the probe range: records when
    each probe's event arrives."""

    def __init__(self, port: int):
        import model

        self.sock = socket.create_connection(("127.0.0.1", port), timeout=10)
        key = base64.b64encode(os.urandom(16)).decode()
        self.sock.sendall((
            "GET /api/ws HTTP/1.1\r\nHost: 127.0.0.1\r\nUpgrade: websocket\r\n"
            f"Connection: Upgrade\r\nSec-WebSocket-Key: {key}\r\n"
            "Sec-WebSocket-Version: 13\r\n\r\n").encode())
        head = b""
        while b"\r\n\r\n" not in head:
            chunk = self.sock.recv(4096)
            if not chunk:
                raise RuntimeError("websocket handshake failed")
            head += chunk
        if b" 101 " not in head.split(b"\r\n", 1)[0]:
            raise RuntimeError("websocket upgrade refused")
        self.buf = head.split(b"\r\n\r\n", 1)[1]
        self._send_text(json.dumps({"Subscribe": {
            "rib": "ipv4u", "filter": model.PROBE_FILTER}}))
        self.seen: dict[int, tuple[int, float]] = {}   # addr → (med, received)
        self.cond = threading.Condition()
        self.sock.settimeout(0.5)
        self.stop = threading.Event()
        self.thread = threading.Thread(target=self._loop, daemon=True)
        self.thread.start()

    def _send_text(self, text: str) -> None:
        data = text.encode()
        mask = os.urandom(4)
        head = bytes([0x81])
        head += bytes([0x80 | len(data)]) if len(data) < 126 \
            else bytes([0x80 | 126]) + struct.pack(">H", len(data))
        self.sock.sendall(head + mask + bytes(b ^ mask[i % 4] for i, b in enumerate(data)))

    def _frame(self):
        while True:
            b = self.buf
            if len(b) >= 2:
                n, p = b[1] & 0x7F, 2
                if n == 126 and len(b) >= 4:
                    n, p = struct.unpack(">H", b[2:4])[0], 4
                elif n == 127 and len(b) >= 10:
                    n, p = struct.unpack(">Q", b[2:10])[0], 10
                if n < 126 or p > 2:
                    if len(b) >= p + n:
                        self.buf = b[p + n:]
                        return b[0] & 0x0F, b[p:p + n]
            chunk = self.sock.recv(65536)
            if not chunk:
                return None
            self.buf += chunk

    def _loop(self) -> None:
        from ipaddress import IPv4Network

        while not self.stop.is_set():
            try:
                fr = self._frame()
            except socket.timeout:
                continue
            except OSError:
                return
            if fr is None:
                return
            now = time.time()
            op, data = fr
            if op != 0x1:
                continue
            ev = json.loads(data)
            nlri = (ev.get("addrs") or {}).get("nlri") or ""
            med = (ev.get("attrs") or {}).get("med")
            if med is None or not nlri.endswith("/32"):
                continue
            addr = int(IPv4Network(nlri).network_address)
            with self.cond:
                self.seen.setdefault(addr, (med, now))
                self.cond.notify_all()

    def wait_for(self, addr: int, timeout: float) -> float | None:
        """Receive time of the probe at ``addr``, None on timeout."""
        end = time.monotonic() + timeout
        with self.cond:
            while addr not in self.seen:
                left = end - time.monotonic()
                if left <= 0:
                    return None
                self.cond.wait(left)
            return self.seen[addr][1]

    def close(self) -> None:
        self.stop.set()
        self.thread.join(timeout=5)
        self.sock.close()


# -- BGP session ---------------------------------------------------------------

class Router:
    """The live router: one BGP session to the daemon's passive
    listener. KEEPALIVEs go out every 10 s and everything the daemon
    sends is drained."""

    HOLD = 90

    def __init__(self, port: int):
        import model
        from bgpexplorer_spark.streaming.bgplive import encode_bgp_open

        self.sock = socket.create_connection(("127.0.0.1", port), timeout=10)
        self.sock.setsockopt(socket.IPPROTO_TCP, socket.TCP_NODELAY, 1)
        self.lock = threading.Lock()
        self.up = threading.Event()
        self.stop = threading.Event()
        self.send(encode_bgp_open(model.PEER_AS[0], self.HOLD, 0xC0000201,
                                  caps=["ipv4u"]))
        self.threads = [threading.Thread(target=self._drain, daemon=True),
                        threading.Thread(target=self._keepalive, daemon=True)]
        for t in self.threads:
            t.start()
        if not self.up.wait(30):
            raise RuntimeError("BGP session did not come up")

    def send(self, data: bytes) -> None:
        with self.lock:
            self.sock.sendall(data)

    def _drain(self) -> None:
        self.sock.settimeout(0.5)
        buf = b""
        while not self.stop.is_set():
            try:
                chunk = self.sock.recv(65536)
            except socket.timeout:
                continue
            except OSError:
                return
            if not chunk:
                return
            buf += chunk
            while len(buf) >= 19:
                n, mtype = struct.unpack(">HB", buf[16:19])
                if len(buf) < n:
                    break
                buf = buf[n:]
                if mtype == 4:
                    self.up.set()

    def _keepalive(self) -> None:
        from bgpexplorer_spark.streaming.bgplive import encode_bgp_keepalive

        while not self.stop.wait(10.0):
            try:
                self.send(encode_bgp_keepalive())
            except OSError:
                return

    def close(self) -> None:
        self.stop.set()
        for t in self.threads:
            t.join(timeout=15)
        self.sock.close()


def send_dump(router: Router, msgs: list[bytes]) -> tuple[int, float]:
    """The router's table at wire speed, then its End-of-RIB probe.
    Returns the probe's address and send time."""
    import model

    t = time.time()
    addr, _ = model.probe_prefix(DUMP_PROBE)
    router.send(b"".join(msgs) + model.probe_message(DUMP_PROBE, 0))
    return addr, t


def send_churn(router: Router, churn, epoch: float, late: list[float]) -> None:
    """Open loop: every event at its scheduled offset from ``epoch``;
    events already due go out together. ``late`` gets how far behind
    schedule each send ran."""
    sched = churn.schedule
    i = 0
    while i < len(sched):
        due = epoch + sched[i][0]
        now = time.time()
        if due > now:
            time.sleep(due - now)
            now = time.time()
        j = i
        while j < len(sched) and epoch + sched[j][0] <= now:
            j += 1
        router.send(b"".join(m for _, m, _ in sched[i:j]))
        late.append(now - due)
        i = j


def read_back(reads: Reads, final: dict) -> bool:
    """One read of the churned block, checked against the last event
    sent for every slot in it. The sink publishes a batch before it
    refreshes the served table, so a read that does not show the drain
    marker yet is repeated. False when it never shows, within 60 s."""
    import model

    path = f"/api/json/ipv4u?filter={model.CHECK_BLOCK}&maxdepth=1&limit=1000"
    marker = model.Churn(final={0: final[0]})
    end = time.monotonic() + 60
    while time.monotonic() < end:
        ans = http_get(reads.port, path, "check")
        if not model.check_final_state(marker, ans):
            bad = model.check_final_state(model.Churn(final=final), ans)
            reads.record("check", 0.0, ans, "; ".join(bad[:5]) if bad else None,
                         kind="check")
            return True
        time.sleep(0.2)
    return False


# -- the run -----------------------------------------------------------------

def run(args) -> dict:
    import model
    from stats import mean

    wl = WORKLOADS[args.workload]
    env_rec = environment(args.workload, args.seed)
    work = os.path.join(HERE, ".work", str(os.getpid()))
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    penv = dict(os.environ, TMPDIR=tmp, SPARK_LOCAL_DIRS=os.path.join(work, "local"),
                SPARK_DRIVER_MEMORY="2g", SPARK_GRAFT_CPUS=str(os.cpu_count() or 4),
                JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
                PYTHONPATH=os.pathsep.join([ROOT, HERE]))
    daemon = router = sub = None
    try:
        ini = os.path.join(work, "bgpexplorer.ini")
        write_ini(ini, snapshot_dir(penv))

        # inputs, encoded before anything is timed
        rib = model.Rib(RIB_SEED, model.Scale(**SCALE))
        churn = dump = None
        if wl["churn_rate"]:
            dump = rib.dump_messages()
            churn = model.make_churn(rib, args.seed, wl["churn_rate"],
                                     args.seconds * CHURN_SHARE, PROBE_EVERY)
        first_gen = model.QueryGen(rib, args.seed, stream=CLIENTS)
        first_qs = [first_gen._q_exact() for _ in range(SETUP_BOOTS)]

        # set-up, SETUP_BOOTS times in one SparkSession: the daemon boot
        # from the snapshot until its first /api/json is answered; all
        # but the last daemon are stopped again
        daemon = Daemon(ini, work, args.trace, penv)
        ready = daemon.expect("spark_ready", 170)
        env_rec["java"] = ready["java"]
        spark_s = time.monotonic() - daemon.t_spawn
        boot_s, restore_s = [], []
        for q in first_qs:
            if boot_s:
                daemon.send(cmd="drop")
                daemon.expect("dropped", 60)
            t0 = time.monotonic()
            daemon.send(cmd="boot")
            ev = daemon.expect("booted", 170)
            why = model.check_answer(q, http_get(ev["http"], q.path()))
            if why is not None:
                raise RuntimeError(f"first answer after boot: {why}")
            boot_s.append(time.monotonic() - t0)
            restore_s.append(ev["restore_s"])
        setup_s = statistics.median(boot_s)
        port = ev["http"]

        log(f"set-up: spark {spark_s:.1f} s, boots "
            f"{' '.join(f'{b:.1f}' for b in boot_s)} s")

        reads = Reads(port, rib, args.seed)
        late: list[float] = []
        probe_sched: dict[int, float] = {}   # probe address → scheduled send
        lags: list[float] = []
        table_load = 0.0
        drained = True
        t0 = time.monotonic()
        if churn is None:
            # lookup: closed-loop reads, no BGP traffic
            daemon.send(cmd="mark")
            daemon.expect("marked", 30)
            reads.run(max(2, round(args.seconds / QUERY_S)))
            if args.trace:
                # the analytics layer, for the per-layer metrics only:
                # after every timed step, so no end-to-end metric sees it
                reads.report(REPORTS[args.seed % len(REPORTS)])
        else:
            # ingest: the router's table dump and right behind it the
            # open-loop churn and probes; the drain marker; once the
            # probe sent after it is on the feed, every update is in the
            # table: one checked read-back, then the reads of lookup
            sub = Subscriber(port)
            router = Router(ev["bgp"])
            daemon.send(cmd="mark")
            daemon.expect("marked", 30)
            eor, t_dump = send_dump(router, dump)
            epoch = time.time()
            probe_sched = {model.probe_prefix(k)[0]: epoch + t
                           for t, _, k in churn.schedule if k >= 0}
            send_churn(router, churn, epoch, late)
            router.send(churn.drain)
            k = len(churn.probe_offsets)
            t_sent = time.time()
            probe_sched[model.probe_prefix(k)[0]] = t_sent
            router.send(model.probe_message(k, model.med_encode(t_sent, epoch)))
            drained = sub.wait_for(model.probe_prefix(k)[0], 120) is not None \
                and read_back(reads, churn.final)
            if drained:
                reads.run(max(2, round(args.seconds / QUERY_S)))
            lags = [sub.seen[a][1] - t for a, t in probe_sched.items() if a in sub.seen]
            probe_sched[eor] = t_dump
            t_eor = sub.wait_for(eor, 0)
            table_load = len(dump) / (t_eor - t_dump) if t_eor else 0.0
        log(f"window of {args.seconds:.0f} s took {time.monotonic() - t0:.1f} s")
        missing = sum(a not in sub.seen for a in probe_sched) if sub else 0

        daemon.send(cmd="stats")
        st = daemon.expect("stats", 120)
        if args.trace:
            daemon.send(cmd="stop")
            daemon.expect("stopped", 120)
    finally:
        for part in (router, sub):
            if part is not None:
                part.close()
        if daemon is not None:
            daemon.close()
        if not os.environ.get("PERFBENCH_KEEP_WORK"):
            shutil.rmtree(work, ignore_errors=True)

    attempted = reads.attempted + len(probe_sched) + (churn is not None)
    failed = reads.failed + missing + (not drained)
    env_rec["loadavg_end"] = os.getloadavg()
    for e in reads.errors:
        log(f"check failed: {e}")
    if failed:
        log(f"failed: {reads.failed} of {reads.attempted} reads, {missing} of "
            f"{len(probe_sched)} probes, drained={drained}")

    n_updates = len(probe_sched) + (len(dump) + churn.n_updates if churn else 0)
    n_ops = len(reads.route_ms) + len(reads.report_ms) + n_updates
    if not args.trace:
        m = {
            "setup_s": (setup_s, "s"),
            "route_query_mean_ms": (mean(reads.route_ms), "ms"),
        }
    else:
        m = layer_metrics(st, reads, probe_sched, lags, late, n_ops,
                          statistics.median(restore_s), table_load)
    env_rec.update(spark_start_s=spark_s, boot_s=boot_s,
                   route_answers=len(reads.route_ms), reports=len(reads.report_ms),
                   probes=len(probe_sched), updates_sent=n_updates,
                   gen_late_max_s=max(late, default=0.0))
    return dict(env=env_rec, correct=failed == 0, attempted=attempted,
                failed=failed,
                metrics={k: {"value": v, "unit": u} for k, (v, u) in m.items()})


LAYERS = ("api", "filterlang", "query", "rib", "analytics", "bgplive", "feed",
          "ingest", "wsfeed")


def layer_metrics(st, reads: "Reads", probe_sched, lags, late, n_ops: int,
                  restore_s: float, table_load: float) -> dict:
    """Per-layer metrics of a traced run, summed over the run from the
    end of set-up on (see README.md). A write-path metric reads 0 on
    ``lookup``, which sends no BGP traffic; on ``ingest`` too few
    samples raise, as everywhere."""
    from stats import mean, percentile

    def write_path(fn, xs):
        return fn(xs) if xs or probe_sched else 0.0

    span, counts, feed, sp = st["span"], st["counts"], st["feed"], st["spark"]

    def n(name):
        return span.get(name, (0, 0.0))[0]

    def ms(name):
        return 1000.0 * span.get(name, (0, 0.0))[1]

    overhead = [1000.0 * (reads.lat[rid] - s)
                for rid, s in st["api_json_by_rid"].items() if rid in reads.lat]
    spool_lag = [1000.0 * (t - probe_sched[addr])
                 for addr, _, t in st["probe_spool"] if addr in probe_sched]
    reports = [k for k in span if k.startswith("api.report.")]
    memo = [k for k in span if k.startswith("analytics.memo.")]
    busy = sum(feed["batch_ms"])
    m = {
        "api.json_n": (n("api.api_json"), "count"),
        "api.json_ms": (ms("api.api_json"), "ms"),
        "api.http_overhead_ms": (mean(overhead), "ms"),
        "api.bump_n": (n("api.bump"), "count"),
        "api.bump_ms": (ms("api.bump"), "ms"),
        "api.report_n": (sum(n(k) for k in reports), "count"),
        "api.report_ms": (sum(ms(k) for k in reports), "ms"),
        "filterlang.parse_ms": (ms("filterlang.parse"), "ms"),
        "filterlang.compile_ms": (ms("filterlang.compile"), "ms"),
        "query.requests": (counts.get("query.requests", 0), "count"),
        "query.query_rib_ms": (ms("query.query_rib"), "ms"),
        "query.nested_json_ms": (ms("query.nested_json"), "ms"),
        "query.routes_returned": (reads.routes_returned, "count"),
        "rib.restore_s": (restore_s, "s"),
        "rib.table_files": (st["table_files"], "count"),
        "rib.table_bytes": (st["table_bytes"], "bytes"),
        "analytics.memo_hits": (counts.get("analytics.memo_hits", 0), "count"),
        "analytics.memo_misses": (counts.get("analytics.memo_calls", 0)
                                  - counts.get("analytics.memo_hits", 0), "count"),
        "analytics.memo_ms": (sum(ms(k) for k in memo), "ms"),
        "bgplive.spool_files": (counts.get("bgplive.spool_files", 0), "count"),
        "bgplive.spool_rows": (counts.get("bgplive.spool_rows", 0), "count"),
        "bgplive.spool_lag_ms": (write_path(mean, spool_lag), "ms"),
        "feed.batches": (len(feed["batch_ms"]), "count"),
        "feed.batch_ms_mean": (write_path(mean, feed["batch_ms"]), "ms"),
        "feed.batch_ms_max": (write_path(max, feed["batch_ms"]), "ms"),
        "feed.add_batch_ms_mean": (write_path(mean, feed["add_batch_ms"]), "ms"),
        "feed.rows_per_batch": (write_path(mean, feed["rows"]), "count"),
        "feed.backlog_files": (feed["backlog_files"], "count"),
        "feed.table_load_routes_per_s": (table_load, "1/s"),
        "feed.lag_p50_s": (write_path(lambda x: percentile(x, 50), lags), "s"),
        "feed.idle_frac": (max(0.0, 1.0 - busy / (1000.0 * st["window_s"])), "ratio"),
        "ingest.build_history_ms": (ms("ingest.build_history"), "ms"),
        "wsfeed.publish_n": (n("wsfeed.publish"), "count"),
        "wsfeed.publish_ms": (ms("wsfeed.publish"), "ms"),
        "wsfeed.rows_published": (counts.get("wsfeed.rows_published", 0), "count"),
        "spark.jobs": (sp["jobs"], "count"),
        "spark.tasks": (sp["tasks"], "count"),
        "spark.input_bytes": (sp["input_bytes"], "bytes"),
        "spark.core_busy_frac": (sp["run_ms"] / (1000.0 * st["window_s"]
                                                 * (os.cpu_count() or 4)), "ratio"),
        "spark.gc_ms": (sp["gc_ms"], "ms"),
        "spark.shuffle_bytes": (sp["shuffle_bytes"], "bytes"),
        "spark.cpu_s_per_op": (sp["run_ms"] / 1000.0 / n_ops, "s"),
        "spark.peak_rss_mb": (st["rss_mb"], "MiB"),
        "gen.late_max_s": (max(late, default=0.0), "s"),
        "trace.span_cost_us": (st["span_cost_us"], "us"),
        "trace.overhead_ms": (st["spans"] * st["span_cost_us"] / 1000.0, "ms"),
    }
    for layer in LAYERS:
        m[f"self_ms.{layer}"] = (1000.0 * st["self_s"].get(layer, 0.0), "ms")
    return m


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not (os.path.isdir(os.path.join(ROOT, "bgpexplorer_spark"))
            and os.path.isfile(os.path.join(ROOT, "bgpexplorer.ini"))):
        log("run from the root of a bgpexplorer_spark checkout")
        return 2
    try:
        res = run(args)
    except Exception as e:  # noqa: BLE001 — no result line on a broken run
        log(f"run failed: {type(e).__name__}: {e}")
        traceback.print_exc()
        return 2
    env = res.pop("env")
    print(json.dumps({"env": env}))
    for k, v in res["metrics"].items():
        print(f"{k} = {v['value']:.6g} {v['unit']}")
    print(json.dumps(res))
    return 0 if res["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
