"""Closed-loop HTTP client for the ``online`` workload: one client sends
the fixed request sequence, each request only after the previous reply.

Usage: python3 client.py PORT REQUESTS_JSON

Reads request indices from stdin, one per line; for each it sends that
request and writes one JSON line to stdout: its kind, HTTP status,
latency in seconds (from send to the last byte of the reply) and the
decoded reply. The runner paces it this way so it can time its host
control between requests without sharing the client's process.
"""
from __future__ import annotations

import json
import sys
import time
import urllib.error
import urllib.request


def call(port: int, path: str, body: dict) -> tuple[int, dict]:
    req = urllib.request.Request(
        f"http://127.0.0.1:{port}{path}",
        data=json.dumps(body).encode(),
        headers={"Content-Type": "application/json"},
    )
    try:
        with urllib.request.urlopen(req, timeout=60) as r:
            return r.status, json.loads(r.read())
    except urllib.error.HTTPError as e:
        return e.code, json.loads(e.read() or b"{}")


def main(argv: list[str]) -> int:
    port, requests_path = int(argv[1]), argv[2]
    with open(requests_path) as f:
        requests = json.load(f)
    for line in sys.stdin:
        r = requests[int(line)]
        t0 = time.perf_counter()
        try:
            status, reply = call(port, r["path"], r["body"])
        except (OSError, ValueError) as e:
            status, reply = -1, {"error": repr(e)}
        result = {"kind": r["kind"], "status": status,
                  "latency_s": time.perf_counter() - t0, "reply": reply}
        sys.stdout.write(json.dumps(result) + "\n")
        sys.stdout.flush()
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
