"""Open-loop webhook load generator (stdlib only).

Runs as its own process with one thread and one connection at a time.
Every ``1/post_hz`` seconds a POST is due; it carries the messages
created since the previous POST as HMAC-signed JSON lines. POSTs are
scheduled from the start of the run and never slowed by the receiver:
when the generator falls behind, the late POSTs go out back to back,
and how late each one was is written to the log.

Message plans are a pure function of the arguments (``plan_posts``),
so the benchmark computes the expected output tallies from the same
seed without reading the generator's log. The log holds only what the
plan cannot know: when each POST was sent, how long it took, and its
HTTP status.

Usage (the benchmark starts it; shown for reference):

    python3 loadgen.py --url http://127.0.0.1:PORT/events --secret S \\
        --start 1700000000.0 --phases 0:20:1000000000:0.05:0.01 --rate 2000 \\
        --post-hz 20 --seed 1 --log out.json
"""

from __future__ import annotations

import argparse
import hashlib
import hmac
import http.client
import json
import random
import sys
import time
from datetime import datetime, timezone
from urllib.parse import urlparse

N_CITIES = 50
ZIPF_S = 1.1
# Duplicates are resent this many POSTs after the original (well inside
# any watermark delay the benchmark uses).
DUP_LAG_POSTS = (1, 4)


def city_weights() -> list[float]:
    return [1.0 / (i + 1) ** ZIPF_S for i in range(N_CITIES)]


def iso_ms(epoch_ms: int) -> str:
    d = datetime.fromtimestamp(epoch_ms / 1000.0, tz=timezone.utc)
    return d.strftime("%Y-%m-%dT%H:%M:%S.") + f"{epoch_ms % 1000:03d}Z"


def plan_posts(start: float, phases, rate: float, post_hz: float, seed: int,
               late_ms: int = 0):
    """Yield ``(due_s, [message, ...])`` for every POST of the run.

    ``phases`` is a list of ``(offset_s, length_s, id_base, dup_share,
    late_share)``: POSTs due in ``[start+offset, start+offset+length)``
    draw ids from ``id_base`` upward, so every phase has its own id
    range. A message is ``{"id", "city", "created_ms", "ts"}``;
    ``created_ms`` is the due time of the POST that first carries it,
    ``ts`` the event time: equal to ``created_ms``, or ``late_ms``
    earlier for the ``late_share`` of deliberately late messages. A
    ``dup_share`` of messages is sent a second time, byte for byte, one
    to four POSTs later.
    """
    rng = random.Random(seed)
    weights = city_weights()
    cities = [f"city{i:02d}" for i in range(N_CITIES)]
    period = 1.0 / post_hz
    pending: dict[int, list[dict]] = {}
    k = 0
    for offset, length, id_base, dup_share, late_share in phases:
        next_id = id_base
        n_posts = int(round(length * post_hz))
        per_post = rate / post_hz
        carry = 0.0
        for j in range(n_posts):
            due = start + offset + j * period
            carry += per_post
            n = int(carry)
            carry -= n
            created = int(round(due * 1000))
            msgs = pending.pop(k, [])
            for _ in range(n):
                ts = created
                if late_share and rng.random() < late_share:
                    ts = created - late_ms
                m = {"id": next_id, "city": rng.choices(cities, weights)[0],
                     "created_ms": created, "ts": iso_ms(ts)}
                next_id += 1
                msgs.append(m)
                if dup_share and rng.random() < dup_share:
                    lag = rng.randint(*DUP_LAG_POSTS)
                    if j + lag < n_posts:
                        pending.setdefault(k + lag, []).append(m)
            yield due, msgs
            k += 1


def parse_phase(text: str):
    o, n, b, d, late = text.split(":")
    return float(o), float(n), int(b), float(d), float(late)


def phase_arg(phases) -> str:
    return ",".join(":".join(str(x) for x in p) for p in phases)


def _post(url, secret: str, body: bytes) -> int:
    sig = "sha256=" + hmac.new(secret.encode(), body, hashlib.sha256).hexdigest()
    conn = http.client.HTTPConnection(url.hostname, url.port, timeout=30)
    try:
        conn.request("POST", url.path, body=body, headers={
            "Content-Type": "application/x-ndjson", "X-Signature": sig})
        resp = conn.getresponse()
        resp.read()
        return resp.status
    finally:
        conn.close()


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--url", required=True)
    ap.add_argument("--secret", required=True)
    ap.add_argument("--start", type=float, required=True)
    ap.add_argument("--phases", required=True,
                    help="comma list of offset_s:length_s:id_base:dup_share:late_share")
    ap.add_argument("--rate", type=float, required=True)
    ap.add_argument("--post-hz", type=float, required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--late-ms", type=int, default=0)
    ap.add_argument("--log", required=True)
    a = ap.parse_args(argv)
    phases = [parse_phase(p) for p in a.phases.split(",")]
    url = urlparse(a.url)
    log = []
    for due, msgs in plan_posts(a.start, phases, a.rate, a.post_hz, a.seed, a.late_ms):
        body = "\n".join(json.dumps(m) for m in msgs).encode()
        wait = due - time.time()
        if wait > 0:
            time.sleep(wait)
        t0 = time.time()
        try:
            status = _post(url, a.secret, body) if msgs else 0
        except OSError:
            status = -1
        log.append((due, t0, time.time(), status, len(msgs)))
    with open(a.log, "w") as f:
        json.dump(log, f)
    return 0


if __name__ == "__main__":
    sys.exit(main())
