"""Loopback emulator of the HubSpot CRM wire API, run as a child process.

It serves ``contacts(seed, n)`` through the cursor-paginated search
endpoint and records what the batch-create endpoint receives:

- ``POST /crm/v3/objects/contacts/search``: body ``{limit, after,
  properties}``; answers ``{results: [{id, properties}], paging}``.
- ``POST /crm/v3/objects/contacts/batch/create``: body ``{inputs}``.
- ``GET /_stats``: request, byte and row counters.
- ``GET /_received``: every row uploaded since the last reset.
- ``POST /_reset``: zero the counters and forget received rows.

Usage: ``python3 emulator.py --seed N --records N``. The process prints
its port on the first line of stdout and exits when stdin closes, so it
cannot outlive the process that started it.
"""

from __future__ import annotations

import argparse
import json
import random
import sys
import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

SEARCH_PATH = "/crm/v3/objects/contacts/search"
CREATE_PATH = "/crm/v3/objects/contacts/batch/create"
_STAGES = ["subscriber", "lead", "marketingqualifiedlead", "opportunity", "customer"]
_FIRST = ["Ada", "Grace", "Alan", "Edsger", "Barbara", "Donald", "Frances", "Ken"]
_LAST = ["Lovelace", "Hopper", "Turing", "Dijkstra", "Liskov", "Knuth", "Allen", "Thompson"]


def contacts(seed: int, n: int) -> list[dict]:
    """The seeded contact records, as HubSpot objects (string properties)."""
    rng = random.Random(seed)
    out = []
    for i in range(n):
        first, last = rng.choice(_FIRST), rng.choice(_LAST)
        out.append({
            "id": str(i + 1),
            "properties": {
                "email": f"{first}.{last}{i}@Example.COM",
                "firstname": first,
                "lastname": last,
                "company": " " * rng.randint(0, 2) + f"Company {rng.randint(1, 500)}" + " " * rng.randint(0, 2),
                "lifecyclestage": rng.choice(_STAGES),
                "amount": str(rng.randint(100, 99_999)),
            },
        })
    return out


class _State:
    def __init__(self, records: list[dict]):
        self.records = records
        self.lock = threading.Lock()
        self.reset()

    def reset(self) -> None:
        self.stats = {"search_requests": 0, "search_bytes": 0,
                      "upload_requests": 0, "upload_rows": 0}
        self.received: list[dict] = []


def _handler(state: _State):
    class Handler(BaseHTTPRequestHandler):
        protocol_version = "HTTP/1.1"

        def log_message(self, *args) -> None:  # keep stderr quiet
            pass

        def _reply(self, code: int, payload) -> int:
            body = json.dumps(payload).encode()
            self.send_response(code)
            self.send_header("Content-Type", "application/json")
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)
            return len(body)

        def _body(self) -> dict:
            n = int(self.headers.get("Content-Length") or 0)
            return json.loads(self.rfile.read(n) or b"{}")

        def do_GET(self) -> None:
            with state.lock:
                if self.path == "/_stats":
                    self._reply(200, state.stats)
                elif self.path == "/_received":
                    self._reply(200, state.received)
                else:
                    self._reply(404, {"message": self.path})

        def do_POST(self) -> None:
            body = self._body()
            if self.path == SEARCH_PATH:
                start = int(body.get("after") or 0)
                limit = int(body.get("limit") or 10)
                props = body.get("properties") or []
                page = state.records[start:start + limit]
                payload = {
                    "total": len(state.records),
                    "results": [
                        {"id": r["id"],
                         "properties": {p: r["properties"].get(p) for p in props}}
                        for r in page
                    ],
                }
                if start + limit < len(state.records):
                    payload["paging"] = {"next": {"after": str(start + limit)}}
                sent = self._reply(200, payload)
                with state.lock:
                    state.stats["search_requests"] += 1
                    state.stats["search_bytes"] += sent
            elif self.path == CREATE_PATH:
                rows = body.get("inputs") or []
                with state.lock:
                    state.stats["upload_requests"] += 1
                    state.stats["upload_rows"] += len(rows)
                    state.received.extend(rows)
                self._reply(201, {"status": "COMPLETE"})
            elif self.path == "/_reset":
                with state.lock:
                    state.reset()
                self._reply(200, {})
            else:
                self._reply(404, {"message": self.path})

    return Handler


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--records", type=int, required=True)
    args = ap.parse_args()
    server = ThreadingHTTPServer(("127.0.0.1", 0), _handler(_State(contacts(args.seed, args.records))))
    server.daemon_threads = True
    threading.Thread(target=server.serve_forever, daemon=True).start()
    print(server.server_address[1], flush=True)
    sys.stdin.read()  # returns at EOF: the parent closed the pipe or died
    server.shutdown()
    server.server_close()


if __name__ == "__main__":
    main()
