"""Open-loop HTTP load generator, run as its own process.

    python3 loadgen.py SPEC.json OUT.json

SPEC holds the port, the wall-clock start time, the number of connections
and the schedule: one ``[due_offset_s, kind, path, rid]`` per request. A
dispatcher releases each request at its due time, whether or not earlier
ones have finished (independent users); up to ``connections`` worker
threads send them. Each result records when the request was due, when the
dispatcher released it (its lag shows the generator, not the program,
running late), when it was sent and when its response was complete.
"""

from __future__ import annotations

import http.client
import json
import queue
import sys
import threading
import time

TIMEOUT_S = 10.0


def run(spec: dict) -> list[dict]:
    port, start = spec["port"], spec["start_at"]
    sched = spec["schedule"]
    results: list[dict | None] = [None] * len(sched)
    work: queue.Queue = queue.Queue()

    def worker() -> None:
        while True:
            item = work.get()
            if item is None:
                return
            i, due, released = item
            _off, kind, path, rid = sched[i]
            rec = {"i": i, "kind": kind, "rid": rid, "due": due,
                   "released": released, "sent": time.time()}
            try:
                conn = http.client.HTTPConnection("127.0.0.1", port, timeout=TIMEOUT_S)
                try:
                    conn.request("GET", path, headers={"X-Bench-Rid": str(rid)})
                    resp = conn.getresponse()
                    body = resp.read()
                finally:
                    conn.close()
                rec["status"] = resp.status
                out = json.loads(body) if resp.status == 200 else {}
                rec["rows"] = out.get("rows")
                rec["cached"] = out.get("cached")
                rec["handler_s"] = out.get("searchTime")
            except (OSError, http.client.HTTPException, ValueError) as ex:
                rec["status"] = 0
                rec["error"] = repr(ex)
            rec["done"] = time.time()
            results[i] = rec

    threads = [threading.Thread(target=worker, daemon=True)
               for _ in range(int(spec["connections"]))]
    for t in threads:
        t.start()
    for i, (off, *_rest) in enumerate(sched):
        due = start + off
        delay = due - time.time()
        if delay > 0:
            time.sleep(delay)
        work.put((i, due, time.time()))
    for _ in threads:
        work.put(None)
    for t in threads:
        t.join(TIMEOUT_S + 5)
    return [
        r if r is not None else {"i": i, "kind": sched[i][1], "rid": sched[i][3],
                                 "status": 0, "error": "not completed"}
        for i, r in enumerate(results)
    ]


def main() -> None:
    with open(sys.argv[1]) as f:
        spec = json.load(f)
    results = run(spec)
    with open(sys.argv[2], "w") as f:
        json.dump(results, f)


if __name__ == "__main__":
    main()
