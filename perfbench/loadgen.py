"""Closed-loop HS2 load generator, run as its own process.

Usage: python3 perfbench/loadgen.py <port> <streams.json> <seconds> <out.json>

Opens one HiveServer2 connection per stream, then every client sends its
next statement only after the previous one is fully fetched, until the
deadline passes. Per statement it records the client-side phases
(ExecuteStatement, GetResultSetMetadata, FetchResults, CloseOperation)
in wall-clock seconds and the fetched rows, and writes them to out.json.
"""

from __future__ import annotations

import json
import os
import sys
import threading
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from iceberg_metadata_pipeline_spark.serving.hs2 import HS2Client  # noqa: E402


def _client_loop(client: HS2Client, stream: list[str], barrier, deadline_box, out: list):
    barrier.wait()
    deadline = deadline_box[0]
    for seq, stmt in enumerate(stream):
        if time.time() >= deadline:
            return
        rec = {"seq": seq, "stmt": stmt, "t0": time.time()}
        try:
            op = client.execute(stmt)
            rec["t_exec"] = time.time()
            client.result_schema(op)
            rec["t_meta"] = time.time()
            rows = client.fetch_all_rows(op)
            rec["t_fetch"] = time.time()
            client.close_operation(op)
            rec["rows"] = [list(r) for r in rows]
            rec["ok"] = True
        except Exception as exc:  # noqa: BLE001 — a failed statement is a result
            rec["ok"] = False
            rec["error"] = f"{type(exc).__name__}: {exc}"
        rec["t_end"] = time.time()
        out.append(rec)


def main() -> int:
    port, streams_path, seconds, out_path = sys.argv[1:5]
    with open(streams_path) as fh:
        streams = json.load(fh)
    clients = [HS2Client("127.0.0.1", int(port)) for _ in streams]
    barrier = threading.Barrier(len(clients) + 1)
    deadline_box = [0.0]
    records: list[list] = [[] for _ in clients]
    threads = [
        threading.Thread(target=_client_loop, args=(c, s, barrier, deadline_box, r))
        for c, s, r in zip(clients, streams, records)
    ]
    for t in threads:
        t.start()
    start = time.time()
    deadline_box[0] = start + float(seconds)
    barrier.wait()
    for t in threads:
        t.join()
    end = time.time()
    # the sessions are left open (the sockets close when this process
    # exits): the engine counts their temp views after the run, as a
    # long-lived server would still hold them
    with open(out_path, "w") as fh:
        json.dump({"start": start, "end": end, "clients": records}, fh)
    return 0


if __name__ == "__main__":
    sys.exit(main())
