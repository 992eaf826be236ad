"""rest_recognize: HTTP /recognize against the server launched by
rest_server.py, driven from this process.

Traffic: request i is a 100-turn document when i % 20 == 19 and a single chat
turn otherwise. Latency floor (untraced runs): one caller sending requests
back to back, each on a new connection. Throughput: one caller sending
requests back to back over one keep-alive connection. Latency under load
(traced runs): an open loop (requests sent on a fixed schedule whatever the
server does) over at most nproc keep-alive connections; each latency runs
from the time the request was due, so a stall also charges the requests
queued behind it.
"""

from __future__ import annotations

import http.client
import json
import os
import queue
import signal
import subprocess
import sys
import threading
import time
import xml.etree.ElementTree as ET
from urllib.parse import urlencode

from common import (
    ROOT, RssSampler, log, median, model_load_s, nproc, percentile, run_dir, tail,
)
import tracing

HERE = os.path.dirname(os.path.abspath(__file__))

# 31 single turns (prime, so every one lands equally often between the
# documents), picked at evenly spaced length ranks among STRATA times as many
# generated turns, so their lengths vary little from seed to seed
STRATA = 20
SIZES = {
    "full": {"singles": 31, "docs": 30, "warmup": 200},
    "tiny": {"singles": 11, "docs": 2, "warmup": 20},
}
DOC_TURNS = 100
DOC_EVERY = 20
# The traced run's open loop runs at FIXED_RPS. Busy keep-alive connections
# make this server stall about 40 ms per response (small chunked writes with
# Nagle's algorithm on, against delayed ACKs), and at 40-50 req/s the loop
# fell into seconds of backlog in 2 of 5 runs on a 4-core box; at 25 req/s it
# did not. Throughput comes from one caller sending requests back to back
# over one keep-alive connection for THROUGHPUT_S, in whole cycles of
# DOC_EVERY requests; the latency floor from the same caller on a new
# connection per request, which does not stall.
FIXED_RPS = 25.0
THROUGHPUT_S = 5.0


# ---------------------------------------------------------------- inputs
def make_bodies(seed: int, size: dict) -> tuple[list, list]:
    """-> (singles, docs): single chat turns and 100-turn documents."""
    from nametag_spark.data.synth import synth_transcripts

    pool = size["singles"] * STRATA
    n_turns = pool + size["docs"] * DOC_TURNS
    tdf, _ = synth_transcripts(n_conversations=n_turns // 6 + 20, seed=seed, vocab_scale=10)
    texts = list(tdf["text"])[:n_turns]
    singles = sorted(texts[:pool], key=len)[STRATA // 2 :: STRATA]
    rest = texts[pool:]
    docs = ["\n".join(rest[i * DOC_TURNS : (i + 1) * DOC_TURNS]) for i in range(size["docs"])]
    return singles, docs


def is_doc(i: int) -> bool:
    return i % DOC_EVERY == DOC_EVERY - 1


def body_for(i: int, singles: list, docs: list) -> tuple[str, int]:
    """-> (text, turns) of request i of the schedule."""
    if is_doc(i):
        return docs[(i // DOC_EVERY) % len(docs)], DOC_TURNS
    return singles[i % len(singles)], 1


def expected_entities(model, text: str) -> list:
    from nametag_spark.ner.pipeline import recognize_local

    return sorted(
        (m["sent_idx"], m["tok_start"], m["tok_len"], m["type"])
        for m in recognize_local(model, [text])[0]
    )


def parse_entities(body: bytes) -> list:
    """Entities of a /recognize response with XML output, as
    (sentence, first token, token count, type)."""
    result = json.loads(body)["result"]
    root = ET.fromstring("<r>" + result + "</r>")
    out = []
    for s_idx, sent in enumerate(root.iter("sentence")):
        pos = 0

        def visit(el):
            nonlocal pos
            for child in el:
                if child.tag == "token":
                    pos += 1
                elif child.tag == "ne":
                    start = pos
                    visit(child)
                    out.append((s_idx, start, pos - start, child.get("type")))

        visit(sent)
    return sorted(out)


# ---------------------------------------------------------------- server
class Server:
    def __init__(self, model_dir: str, spans: str | None = None):
        cmd = [sys.executable, os.path.join(HERE, "rest_server.py"), "--model", model_dir]
        if spans:
            cmd += ["--spans", spans]
        env = dict(os.environ, PYTHONPATH=ROOT)
        t0 = time.perf_counter()
        self.proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, env=env, text=True)
        line = self.proc.stdout.readline()
        if not line.startswith("READY "):
            self.stop()
            raise RuntimeError(f"server did not start: {line!r}")
        self.ready_s = time.perf_counter() - t0
        self.port = int(line.split()[1])

    def stop(self) -> None:
        if self.proc.poll() is None:
            self.proc.send_signal(signal.SIGTERM)
            try:
                self.proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                self.proc.kill()
                self.proc.wait()
        self.proc.stdout.close()


# ---------------------------------------------------------------- load
class Phase:
    """One open-loop phase at a fixed rate: due times, lateness, latencies,
    responses and the backlog seen at each send."""

    def __init__(self, rate, n, first):
        self.rate, self.n, self.first = rate, n, first
        self.late = [0.0] * n
        self.backlog = [0] * n
        self.results = [None] * n  # (latency_s, status, body)

    def latencies_ms(self):
        return [r[0] * 1000 for r in self.results if r is not None and r[1] == 200]

    def turn_floor_ms(self, singles: list) -> float:
        """Median, over the single-turn bodies, of each body's fastest
        latency. Every body is sent many times, so its fastest latency is
        its cost on an idle host (see README.md)."""
        best: dict = {}
        for k, r in enumerate(self.results):
            rid = self.first + k
            if r is not None and r[1] == 200 and not is_doc(rid):
                i = rid % len(singles)
                best[i] = min(best.get(i, r[0]), r[0])
        return median(best.values()) * 1000


def _send(conn, port, rid, singles, docs):
    """POST request rid's body -> (status, body, conn); a broken connection
    is replaced."""
    text, _turns = body_for(rid, singles, docs)
    try:
        conn.request("POST", "/recognize", body=urlencode({"data": text}).encode(), headers={
            "Content-Type": "application/x-www-form-urlencoded",
            "X-Request-Id": str(rid),
        })
        resp = conn.getresponse()
        return resp.status, resp.read(), conn
    except (OSError, http.client.HTTPException) as exc:
        log(f"request {rid}: {exc!r}")
        conn.close()
        return None, b"", http.client.HTTPConnection("127.0.0.1", port, timeout=60)


def run_phase(port, rate, seconds, first, singles, docs, conns) -> Phase:
    """Open loop: send n = rate x seconds requests on schedule over `conns`
    connections. Request ids continue from `first`, which also picks the
    body."""
    n = max(1, int(round(rate * seconds)))
    ph = Phase(rate, n, first)
    work: queue.Queue = queue.Queue()
    done = [0]
    lock = threading.Lock()

    def worker():
        conn = http.client.HTTPConnection("127.0.0.1", port, timeout=60)
        while True:
            item = work.get()
            if item is None:
                break
            k, due = item
            status, body, conn = _send(conn, port, first + k, singles, docs)
            ph.results[k] = (time.perf_counter() - due, status, body)
            with lock:
                done[0] += 1
        conn.close()

    threads = [threading.Thread(target=worker, daemon=True) for _ in range(conns)]
    for t in threads:
        t.start()
    t0 = time.perf_counter() + 0.01
    for k in range(n):
        due = t0 + k / rate
        delay = due - time.perf_counter()
        if delay > 0:
            time.sleep(delay)
        ph.late[k] = time.perf_counter() - due
        ph.backlog[k] = k - done[0]
        work.put((k, due))
    for _ in threads:
        work.put(None)
    for t in threads:
        t.join(timeout=120)
    return ph


def closed_loop(port, seconds, first, singles, docs, fresh=False) -> tuple[Phase, float]:
    """One caller sending requests back to back over one keep-alive
    connection (with fresh, a new connection per request), in whole cycles
    of DOC_EVERY requests (each holds one document), until `seconds` have
    passed. -> (phase, elapsed_s)"""
    results = []
    conn = http.client.HTTPConnection("127.0.0.1", port, timeout=60)
    t0 = time.perf_counter()
    while len(results) % DOC_EVERY or time.perf_counter() - t0 < seconds:
        t = time.perf_counter()
        status, body, conn = _send(conn, port, first + len(results), singles, docs)
        results.append((time.perf_counter() - t, status, body))
        if fresh:
            conn.close()  # the next request reconnects
    elapsed = time.perf_counter() - t0
    conn.close()
    ph = Phase(0.0, len(results), first)
    ph.results = results
    return ph, elapsed


def check(ph: Phase, expected: dict, singles, docs) -> int:
    """-> failed requests: errors, unparsable bodies, or entities that differ
    from recognize_local on the same text."""
    failed = 0
    for k, r in enumerate(ph.results):
        text, _ = body_for(ph.first + k, singles, docs)
        if r is None or r[1] != 200:
            failed += 1
            continue
        try:
            got = parse_entities(r[2])
        except (ValueError, KeyError, ET.ParseError):
            got = None
        if got != expected[text]:
            failed += 1
    return failed


# ---------------------------------------------------------------- workload
def rest_recognize(seed: int, seconds: float, trace: bool, tiny: bool) -> tuple:
    with run_dir() as rd:
        return _rest_recognize(rd, seed, seconds, trace, tiny)


def _rest_recognize(rd, seed, seconds, trace, tiny) -> tuple:
    import __spark_entry__ as entry
    from nametag_spark.model.model import NerModel

    size = SIZES["tiny" if tiny else "full"]
    conns = nproc()
    model_dir = entry._model_dir()
    singles, docs = make_bodies(seed, size)
    model = NerModel.load(model_dir)
    expected = {t: expected_entities(model, t) for t in set(singles) | set(docs)}

    # set-up (server start until ready), three times; the last one serves
    spans_path = f"{rd}/spans.jsonl" if trace else None
    setups = []
    for i in range(3):
        srv = Server(model_dir, spans_path)
        setups.append(srv.ready_s)
        if i < 2:
            srv.stop()
    phases = []
    # a short switch interval keeps this process's threads from delaying
    # each other's completion timestamps while they wait for the GIL
    switch = sys.getswitchinterval()
    sys.setswitchinterval(0.0005)
    try:
        with RssSampler(srv.proc.pid) as rss:
            run_phase(srv.port, 1000.0, size["warmup"] / 1000.0, 0,
                      singles, docs, conns)
            first = size["warmup"]
            if trace:
                span = seconds / 2
                fixed = run_phase(srv.port, FIXED_RPS, span, first, singles, docs, conns)
                srv.proc.send_signal(signal.SIGUSR1)
                time.sleep(0.2)
                traced = run_phase(srv.port, FIXED_RPS, span, first + fixed.n, singles,
                                   docs, conns)
                phases += [fixed, traced]
            else:
                floor_ph, _ = closed_loop(srv.port, seconds, first, singles, docs, fresh=True)
                closed, elapsed = closed_loop(srv.port, THROUGHPUT_S, first + floor_ph.n,
                                              singles, docs)
                phases += [floor_ph, closed]
    finally:
        sys.setswitchinterval(switch)
        srv.stop()

    attempted = sum(ph.n for ph in phases)
    failed = sum(check(ph, expected, singles, docs) for ph in phases)
    if trace:
        lat = fixed.latencies_ms()
        log(f"fixed {fixed.rate}/s: n={len(lat)} p50 {median(lat):.2f} ms "
            f"tail {tail(lat):.2f} ms late max {max(fixed.late) * 1000:.2f} ms")
        return attempted, failed, rest_layers(spans_path, traced, fixed, model_dir)
    floor = floor_ph.turn_floor_ms(singles)
    turns = sum(body_for(closed.first + k, singles, docs)[1]
                for k, r in enumerate(closed.results) if r[1] == 200)
    log(f"fresh connections: {floor_ph.n} requests, turn floor {floor:.3f} ms; "
        f"keep-alive: {closed.n / elapsed:.1f} req/s, {turns / elapsed:.1f} turns/s")
    return attempted, failed, {
        "turns_per_s": turns / elapsed,
        "best_ms": floor,
        "setup_s": median(setups),
        "peak_rss_mb": rss.peak_mb,
    }


def rest_layers(spans_path, traced: Phase, untraced: Phase, model_dir) -> dict:
    spans = tracing.load_spans(spans_path)
    tracing.report(spans, log)
    by_req = {}
    for s in spans:
        if s["name"] == "rest":
            by_req[int(s["req"])] = (s["end"] - s["start"]) * 1000
    service, queued = [], []
    for k, r in enumerate(traced.results):
        rid = traced.first + k
        if r is not None and r[1] == 200 and rid in by_req:
            service.append(by_req[rid])
            queued.append(r[0] * 1000 - by_req[rid])
    st = tracing.self_times(spans)
    tok = [s for s in spans if s["name"] == "tokenizer"]
    ner = [s for s in spans if s["name"] == "ner" and "sentences" in s]
    layers = {
        "tokenizer.s": st.get("tokenizer", {}).get("total_s", 0.0),
        "tokenizer.tokens": sum(s["tokens"] for s in tok),
        "ner.recognize_s": st.get("ner", {}).get("total_s", 0.0),
        "ner.sentences": sum(s["sentences"] for s in ner),
        "ner.mentions": sum(s["mentions"] for s in ner),
        "ner.decode_ms_per_req": median(tracing.per_req_self_ms(spans, "ner")),
        "model.load_s": model_load_s(model_dir),
        "rest.service_ms": median(service),
        "rest.queue_ms": median(queued),
        "rest.render_ms": median(tracing.per_req_self_ms(spans, "render")),
        "rest.p50_ms": median(untraced.latencies_ms()),
        "rest.tail_ms": tail(untraced.latencies_ms()),
        "rest.late_ms": percentile(traced.late, 99) * 1000,
        "rest.backlog": max(traced.backlog),
        "trace.overhead_share": median(traced.latencies_ms()) / median(untraced.latencies_ms()) - 1,
    }
    layers.update(tracing.layer_self_s(spans))
    return layers
