"""Simulated sensors for the ingest workloads, and the tally of what they sent.

Four TCP servers on ephemeral loopback ports play the instruments a dcafs
settings.xml declares with <stream type="tcp">. Every connection to a
sensor receives the same lines in the same order, so each sink query of
the engine, which opens its own connection, sees the whole stream.

Line formats (seq counts every line a sensor sends; t is the scheduled
send time in epoch ms):
  sensors 0 and 1, CSV:   ctd,<key>,<raw>,<seq>,<t>
  sensors 2 and 3, NMEA:  $WIMDA,<key>,<raw>,<seq>,<t>*<xor checksum>
  every 8th line, status: #stat,sensor<i>,<seq>,<t>   (the path's filter drops it)
The path turns raw counts into readings with reading = raw * 0.25 - 40, so
every reading is a multiple of 0.25 and sums of readings are exact.
"""
import math
import random
import socket
import threading
import time

import stats

N_SENSORS = 4
STATUS_EVERY = 8
ALERT_HIGH = 150.0
ALERT_LOW = 100.0
QUANTITIES = ["temp", "sal", "pres", "cond", "oxy"]


def reading(raw):
    return raw * 0.25 - 40


def nmea(payload):
    cs = 0
    for ch in payload:
        cs ^= ord(ch)
    return f"${payload}*{cs:02X}"


class Tally:
    """What the sensors sent, reduced to what the engine must reproduce."""

    def __init__(self):
        self.lines = 0
        self.rejected = 0
        self.file_hash = 0
        self.keys = {}  # key -> [count, sum, min, max, last, armed, rising, cleared]

    def add_line(self, line):
        self.lines += 1
        self.file_hash = (self.file_hash + stats.line_hash(line)) & 0xFFFFFFFFFFFFFFFF

    def add_status(self, line):
        self.add_line(line)
        self.rejected += 1

    def add_reading(self, line, key, value):
        self.add_line(line)
        k = self.keys.get(key)
        if k is None:
            k = self.keys[key] = [0, 0.0, value, value, value, False, 0, 0]
        k[0] += 1
        k[1] += value
        k[2] = min(k[2], value)
        k[3] = max(k[3], value)
        k[4] = value
        # same hysteresis as stats.alert_tally, kept incrementally
        if not k[5] and value >= ALERT_HIGH:
            k[6] += 1
            k[5] = True
        elif k[5] and value <= ALERT_LOW:
            k[7] += 1
            k[5] = False

    @property
    def stored(self):
        return self.lines - self.rejected


class Sensor:
    """One instrument: a listening socket and the connections made to it."""

    def __init__(self):
        self.server = socket.socket(socket.AF_INET, socket.SOCK_STREAM)
        self.server.setsockopt(socket.SOL_SOCKET, socket.SO_REUSEADDR, 1)
        self.server.bind(("127.0.0.1", 0))
        self.server.listen(16)
        self.server.settimeout(0.2)
        self.port = self.server.getsockname()[1]
        self.clients = []
        self.lost = 0
        self.lock = threading.Lock()
        self.closed = False
        self.acceptor = threading.Thread(target=self._accept, daemon=True)
        self.acceptor.start()

    def _accept(self):
        while not self.closed:
            try:
                c, _ = self.server.accept()
            except (socket.timeout, OSError):
                continue
            c.setsockopt(socket.IPPROTO_TCP, socket.TCP_NODELAY, 1)
            with self.lock:
                self.clients.append(c)

    def drop_clients(self):
        with self.lock:
            for c in self.clients:
                c.close()
            self.clients = []

    def count(self):
        with self.lock:
            return len(self.clients)

    def send(self, data):
        with self.lock:
            clients = list(self.clients)
        for c in clients:
            try:
                c.sendall(data)
            except OSError:
                # a reader that went away loses lines; the tally check
                # reports it, so drop the connection and carry on
                self.lost += 1
                with self.lock:
                    if c in self.clients:
                        self.clients.remove(c)

    def close(self):
        self.closed = True
        self.acceptor.join()
        self.drop_clients()
        self.server.close()


class Generator:
    """Open-loop load for one run; every choice comes from the seed."""

    def __init__(self, seed):
        self.rng = random.Random(seed)
        self.sensors = [Sensor() for _ in range(N_SENSORS)]
        self.tally = Tally()
        self.seq = [0] * N_SENSORS
        self.late_ms = []
        self.measure_from_ms = None
        # steady phase: 5 keys a sensor, each key's readings a slow wave that
        # crosses the alert thresholds, plus noise
        self.keys = [[f"s{s}_{q}" for q in QUANTITIES] for s in range(N_SENSORS)]
        self.wave = {k: (self.rng.uniform(40, 120), self.rng.uniform(0, 2 * math.pi), [0])
                     for ks in self.keys for k in ks}
        # drain phase: 2500 keys a sensor, readings uniform over both thresholds
        self.drain_keys = [[f"s{s}_k{j:04d}" for j in range(2500)] for s in range(N_SENSORS)]

    @property
    def ports(self):
        return [s.port for s in self.sensors]

    def wait_connected(self, n, timeout_s=60):
        deadline = time.time() + timeout_s
        while any(s.count() < n for s in self.sensors):
            if time.time() > deadline:
                return False
            time.sleep(0.005)
        return True

    def reset(self):
        for s in self.sensors:
            s.drop_clients()

    def close(self):
        for s in self.sensors:
            s.closed = True
        for s in self.sensors:
            s.close()

    def _line(self, s, key, raw, t_ms):
        seq = self.seq[s]
        self.seq[s] += 1
        if seq % STATUS_EVERY == STATUS_EVERY - 1:
            line = f"#stat,sensor{s},{seq},{t_ms}"
            self.tally.add_status(line)
            return line, False
        body = f"{key},{raw},{seq},{t_ms}"
        line = f"ctd,{body}" if s < 2 else nmea(f"WIMDA,{body}")
        self.tally.add_reading(line, key, reading(raw))
        return line, True

    def _steady_raw(self, key):
        period, phase, n = self.wave[key]
        v = 125 + 40 * math.sin(2 * math.pi * n[0] / period + phase) + self.rng.uniform(-5, 5)
        n[0] += 1
        return int(round((v + 40) * 4))

    def steady(self, warmup, seconds, rate):
        """Send for `warmup + seconds` at `rate` lines/s in total, each line
        at its scheduled time; returns the number of lines sent. Lines due
        from `self.measure_from_ms` on are the measured ones."""
        interval = N_SENSORS / rate
        t0 = time.time() + 0.05
        self.measure_from_ms = int((t0 + warmup) * 1000)
        n_per_sensor = int((warmup + seconds) / interval)
        # the k-th line of sensor s is due at t0 + (k + s / N) * interval
        due = [(t0 + (k + s / N_SENSORS) * interval, s)
               for k in range(n_per_sensor) for s in range(N_SENSORS)]
        due.sort()
        key_pos = [0] * N_SENSORS
        i = 0
        sent = 0
        while i < len(due):
            now = time.time()
            if due[i][0] > now:
                time.sleep(min(due[i][0] - now, 0.002))
                continue
            out = [[] for _ in range(N_SENSORS)]
            while i < len(due) and due[i][0] <= now:
                t, s = due[i]
                key = self.keys[s][key_pos[s] % len(self.keys[s])]
                status = self.seq[s] % STATUS_EVERY == STATUS_EVERY - 1
                raw = 0 if status else self._steady_raw(key)
                line, is_reading = self._line(s, key, raw, int(t * 1000))
                if is_reading:
                    key_pos[s] += 1
                out[s].append(line)
                if t * 1000 >= self.measure_from_ms:
                    self.late_ms.append((now - t) * 1000.0)
                i += 1
            for s in range(N_SENSORS):
                if out[s]:
                    self.sensors[s].send(("\n".join(out[s]) + "\n").encode())
                    sent += len(out[s])
        return sent

    def drain_round(self, lines):
        """Queue a backlog of `lines` lines (a quarter per sensor), all due
        at once, and write it as fast as the connections accept it.
        Returns (lines sent, the round's start in epoch ms)."""
        per = lines // N_SENSORS
        t_ms = int(time.time() * 1000)
        payloads = []
        for s in range(N_SENSORS):
            ks = self.drain_keys[s]
            rnd = self.rng.randrange
            out = []
            for _ in range(per):
                # readings spread over 70..170, so keys cross both thresholds
                line, _ = self._line(s, ks[rnd(len(ks))], 440 + rnd(400), t_ms)
                out.append(line)
            payloads.append(("\n".join(out) + "\n").encode())
        start = time.time()
        threads = []
        for s, data in zip(self.sensors, payloads):
            with s.lock:
                clients = list(s.clients)
            for c in clients:
                th = threading.Thread(target=c.sendall, args=(data,), daemon=True)
                th.start()
                threads.append(th)
        for th in threads:
            th.join(timeout=150)
        # every line of the round is due when the first one is written
        return per * N_SENSORS, int(start * 1000), t_ms
