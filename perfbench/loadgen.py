"""Closed-loop load generator for the ``api_payload`` workload.

One client sends one ``POST /process`` and waits for the reply before
sending the next, the way a browser waits on a form submit.  It first sends
``--warmup`` requests that are checked but not timed; then it keeps sending
until ``--seconds`` have passed (a request started inside the window is
finished and counted).  Payloads are generated here from ``--seed``; the
server sees only the request bodies.

Every reply is checked against the manifest of its payload.  With
``--trace 1`` alternate timed requests carry ``X-Bench-Trace: 1`` so the
server process can trace half of them and compare the two halves.

Prints one JSON object: a record per request.
"""

from __future__ import annotations

import argparse
import http.client
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import checks  # noqa: E402
import gen_docs  # noqa: E402

MAX_REQUESTS = 400


def post(port: int, body: bytes, headers: dict) -> tuple[int, dict | None]:
    conn = http.client.HTTPConnection("127.0.0.1", port, timeout=170)
    try:
        conn.request("POST", "/process", body=body, headers=headers)
        resp = conn.getresponse()
        raw = resp.read()
        try:
            return resp.status, json.loads(raw)
        except ValueError:
            return resp.status, None
    finally:
        conn.close()


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--port", type=int, required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--warmup", type=int, default=1)
    ap.add_argument("--trace", type=int, default=0)
    args = ap.parse_args()

    records: list[dict] = []
    deadline = None
    for i, (text, manifest) in enumerate(gen_docs.api_payloads(args.seed, args.warmup + MAX_REQUESTS)):
        warm = i < args.warmup
        if not warm and deadline is None:
            deadline = time.time() + args.seconds
        if not warm and time.time() >= deadline:
            break
        rid = f"r{i}"
        traced = args.trace == 1 and not warm and i % 2 == 0
        headers = {
            "Content-Type": "text/plain; charset=utf-8",
            "X-Bench-Request": rid,
            "X-Bench-Trace": "1" if traced else "0",
        }
        start = time.time()
        try:
            status, body = post(args.port, text.encode("utf-8"), headers)
            expected = {"items_by_type": manifest.items_by_type(),
                        "columns": sorted(manifest.table_columns())}
            error = checks.check_api_response(status, body, expected)
        except OSError as e:
            error = f"{type(e).__name__}: {e}"
        end = time.time()
        records.append({"id": rid, "warmup": warm, "traced": traced, "start": start,
                        "end": end, "bytes": manifest.bytes, "error": error})
    print(json.dumps({"records": records}))


if __name__ == "__main__":
    main()
