"""Paced tick feed for the tick_pipeline workload, run as its own process.

Serves deterministic ticks (the formula of graft.sources.TickGen.at) over
RFC 6455 WebSocket framing and the RESUME protocol that
graft.sources.TickSocketProvider speaks with transport=ws: the client
upgrades, sends the text message "RESUME <seq>", and receives one text frame
per tick ("bid\\tsymbol\\tprice\\tqty\\ttimeMs\\tmaker") from that sequence on.
One thread per connection.

Two listening ports:
  - warm-up: ticks 0 .. WARM-1 at once, then idle (pipeline set-up runs);
  - main: the open-loop schedule. Tick i < PACED is due at
    t0 + (i + u_i) / RATE, with u_i in [0, 1) from a seeded hash, and the
    BURST ticks after them are all due at t0 + seconds (the drain phase).
    t0 is fixed when the first client connects to the main port.

Files in the run directory: gen_ports.json (ports, written when listening),
gen_schedule.json (the schedule parameters and t0, rewritten when t0 is
set) and gen_stats.json (how late the generator ran, ticks offered;
written when the process is stopped).

Usage: python3 tickgen.py <run_dir> <seed> <seconds>
"""
import base64
import hashlib
import json
import os
import signal
import socket
import subprocess
import sys
import threading
import time

RATE = 2500             # offered ticks per second in the paced phase
TICKS_PER_WINDOW = 625  # a 1-minute event window closes every 0.25 s
MS_PER_TICK = 60000 // TICKS_PER_WINDOW
BURST_WINDOWS = 60
WARM_WINDOWS = 4
START_MS = 1710000000000 - 1710000000000 % 60000
GUID = "258EAFA5-E914-47DA-95CA-C5AB0DC85B11"
MASK64 = (1 << 64) - 1


def splitmix64(x):
    x = (x + 0x9E3779B97F4A7C15) & MASK64
    x = ((x ^ (x >> 30)) * 0xBF58476D1CE4E5B9) & MASK64
    x = ((x ^ (x >> 27)) * 0x94D049BB133111EB) & MASK64
    return x ^ (x >> 31)


def plan(seed, seconds):
    paced = int(RATE * seconds) // TICKS_PER_WINDOW * TICKS_PER_WINDOW
    burst = BURST_WINDOWS * TICKS_PER_WINDOW + 1
    return {"rate": RATE, "ticks_per_window": TICKS_PER_WINDOW,
            "ms_per_tick": MS_PER_TICK, "start_ms": START_MS, "seed": seed,
            "paced": paced, "burst": burst, "burst_at_s": seconds,
            "warm": WARM_WINDOWS * TICKS_PER_WINDOW + 1}


def due_offsets(p):
    """Seconds after t0 at which each tick of the main schedule is due."""
    s = p["seed"] * 0x100000001B3
    paced = [(i + splitmix64(s ^ i) / 2.0 ** 64) / p["rate"] for i in range(p["paced"])]
    return paced + [float(p["burst_at_s"])] * p["burst"]


def tick_line(i):
    price = "%.8f" % (26000.0 + (i * 37 % 2000) / 100.0)
    qty = "%.8f" % ((i * 13 % 100000) / 100000000.0)
    maker = "1" if i % 2 == 0 else "0"
    return f"{i}\tBTCUSDT\t{price}\t{qty}\t{START_MS + i * MS_PER_TICK}\t{maker}"


def frame(text):
    b = text.encode()
    n = len(b)
    if n < 126:
        return bytes([0x81, n]) + b
    return bytes([0x81, 126, n >> 8, n & 0xFF]) + b


def read_exact(conn, n):
    out = b""
    while len(out) < n:
        chunk = conn.recv(n - len(out))
        if not chunk:
            raise ConnectionError("peer closed")
        out += chunk
    return out


def handshake(conn):
    """Answer the upgrade, then read the masked RESUME message."""
    req = b""
    while b"\r\n\r\n" not in req:
        chunk = conn.recv(4096)
        if not chunk:
            raise ConnectionError("peer closed")
        req += chunk
    key = next(l.split(":", 1)[1].strip() for l in req.decode("latin-1").split("\r\n")
               if l.lower().startswith("sec-websocket-key:"))
    accept = base64.b64encode(hashlib.sha1((key + GUID).encode()).digest()).decode()
    conn.sendall(("HTTP/1.1 101 Switching Protocols\r\nUpgrade: websocket\r\n"
                  f"Connection: Upgrade\r\nSec-WebSocket-Accept: {accept}\r\n\r\n").encode())
    b0, b1 = read_exact(conn, 2)
    n = b1 & 0x7F
    if n == 126:
        n = int.from_bytes(read_exact(conn, 2), "big")
    mask = read_exact(conn, 4)
    payload = bytes(c ^ mask[i % 4] for i, c in enumerate(read_exact(conn, n)))
    text = payload.decode()
    return int(text.split()[1]) if text.startswith("RESUME ") else 0


class Feed:
    def __init__(self, run_dir, seed, seconds):
        self.run_dir = run_dir
        self.plan = plan(seed, seconds)
        self.due = due_offsets(self.plan)
        self.t0 = None
        self.lock = threading.Lock()
        self.late_max = 0.0
        self.offered = 0
        self.stopped = False

    def write_schedule(self):
        p = dict(self.plan, t0_ms=None if self.t0 is None else int(self.t0 * 1000))
        tmp = os.path.join(self.run_dir, "gen_schedule.json.tmp")
        with open(tmp, "w") as f:
            json.dump(p, f)
        os.replace(tmp, os.path.join(self.run_dir, "gen_schedule.json"))

    def serve_warm(self, conn):
        seq = handshake(conn)
        conn.sendall(b"".join(frame(tick_line(i)) for i in range(seq, self.plan["warm"])))
        self.idle(conn)

    def serve_main(self, conn):
        seq = handshake(conn)
        with self.lock:
            if self.t0 is None:
                self.t0 = time.time() + 0.2
                self.write_schedule()
        due, t0, total = self.due, self.t0, len(self.due)
        i = seq
        while i < total and not self.stopped:
            now = time.time() - t0
            if due[i] > now:
                time.sleep(min(due[i] - now, 0.005))
                continue
            j = i
            while j < total and due[j] <= now:
                j += 1
            conn.sendall(b"".join(frame(tick_line(k)) for k in range(i, j)))
            with self.lock:
                if due[i] < self.plan["burst_at_s"]:
                    self.late_max = max(self.late_max, now - due[i])
                self.offered = max(self.offered, j)
            i = j
        self.idle(conn)

    def idle(self, conn):
        # keep the connection open until the client goes away
        conn.settimeout(0.5)
        while not self.stopped:
            try:
                if not conn.recv(4096):
                    return
            except socket.timeout:
                continue

    def listen(self, handler):
        srv = socket.socket()
        srv.setsockopt(socket.SOL_SOCKET, socket.SO_REUSEADDR, 1)
        srv.bind(("127.0.0.1", 0))
        srv.listen(8)

        def accept():
            while not self.stopped:
                try:
                    conn, _ = srv.accept()
                except OSError:
                    return
                conn.setsockopt(socket.IPPROTO_TCP, socket.TCP_NODELAY, 1)

                def run(c=conn):
                    try:
                        handler(c)
                    except (OSError, ConnectionError, StopIteration, ValueError):
                        pass
                    finally:
                        c.close()
                threading.Thread(target=run, daemon=True).start()
        threading.Thread(target=accept, daemon=True).start()
        return srv

    def stats(self):
        return {"gen.late_ms_max": self.late_max * 1000.0, "gen.ticks_offered": float(self.offered)}


def main():
    run_dir, seed, seconds = sys.argv[1], int(sys.argv[2]), float(sys.argv[3])
    feed = Feed(run_dir, seed, seconds)
    warm = feed.listen(feed.serve_warm)
    main_srv = feed.listen(feed.serve_main)
    feed.write_schedule()
    done = threading.Event()
    signal.signal(signal.SIGTERM, lambda *_: done.set())
    with open(os.path.join(run_dir, "gen_ports.json"), "w") as f:
        json.dump({"warm": warm.getsockname()[1], "main": main_srv.getsockname()[1]}, f)
    done.wait()
    feed.stopped = True
    warm.close()
    main_srv.close()
    with open(os.path.join(run_dir, "gen_stats.json"), "w") as f:
        json.dump(feed.stats(), f)


# ----------------------------------------------------------- launcher side

def launch(run_dir, seed, seconds):
    """Start the feed process; return it and the JVM arguments naming it."""
    proc = subprocess.Popen([sys.executable, os.path.abspath(__file__), run_dir,
                             str(seed), str(seconds)], stdin=subprocess.DEVNULL)
    ports = os.path.join(run_dir, "gen_ports.json")
    deadline = time.time() + 20
    while not os.path.exists(ports):
        if proc.poll() is not None or time.time() > deadline:
            stop(proc, run_dir)
            raise RuntimeError("tick feed did not start")
        time.sleep(0.05)
    p = json.load(open(ports))
    return proc, ["--gen-warm-port", str(p["warm"]), "--gen-main-port", str(p["main"])]


def stop(proc, run_dir):
    """Stop the feed process, wait for it, and return its stats."""
    if proc.poll() is None:
        proc.terminate()
        try:
            proc.wait(timeout=10)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    path = os.path.join(run_dir, "gen_stats.json")
    return json.load(open(path)) if os.path.exists(path) else {}


if __name__ == "__main__":
    main()
