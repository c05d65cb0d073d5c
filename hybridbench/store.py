"""The benchmark's remote time-series store: a DuckDB-backed Arrow Flight
SQL server in its own process.

It answers any CMD descriptor by running the SQL text in DuckDB (one
thread, one connection, one request at a time) and serves the result from
one endpoint. Server-side counters (requests, probe requests, rows and
bytes served, busy seconds) are returned by the ``stats`` action, so the
traced run can read what crossed the wire per op.

Run as ``python3 hybridbench/store.py --points N`` from the repository
root; the process prints ``READY <port>`` once it serves.
"""

from __future__ import annotations

import argparse
import json
import sys
import threading
import time
from pathlib import Path

#: SQL the compiler's grouped-pushdown cost probe renders
#: (render_grouped_probe_sql) — counted apart from data requests
PROBE_MARKER = '"__pts"'

TABLE_QUERY = "SELECT id, timestamp, value FROM ts"


def load_points(con, points: int) -> int:
    """Load the wind-power fleet (TURBINES x 3 signals x ``points``) into
    table ``ts``; returns the row count."""
    from otit_swt_spark.windpower import series_frame

    from hybridbench.inputs import TURBINES

    pdf = series_frame(points, TURBINES)  # noqa: F841 - read by DuckDB
    con.execute("CREATE TABLE ts AS SELECT id, timestamp, value FROM pdf")
    return con.execute("SELECT COUNT(*) FROM ts").fetchone()[0]


def make_server(con, host: str = "127.0.0.1"):
    import pyarrow.flight as flight

    class StoreServer(flight.FlightServerBase):
        def __init__(self):
            super().__init__(f"grpc://{host}:0")
            self._lock = threading.Lock()
            self._results: dict[bytes, object] = {}
            self._n = 0
            self.stats = {"requests": 0, "probe_requests": 0,
                          "rows_served": 0, "bytes_served": 0,
                          "busy_s": 0.0}

        def get_flight_info(self, context, descriptor):
            sql = descriptor.command.decode("utf-8")
            with self._lock:
                t0 = time.perf_counter()
                table = con.execute(sql).arrow()
                if hasattr(table, "read_all"):  # RecordBatchReader
                    table = table.read_all()
                self._n += 1
                ticket = f"q{self._n}".encode()
                self._results[ticket] = table
                self.stats["requests"] += 1
                if PROBE_MARKER in sql:
                    self.stats["probe_requests"] += 1
                self.stats["busy_s"] += time.perf_counter() - t0
            loc = flight.Location.for_grpc_tcp(host, self.port)
            return flight.FlightInfo(
                table.schema, descriptor,
                [flight.FlightEndpoint(ticket, [loc])],
                table.num_rows, table.nbytes)

        def do_get(self, context, ticket):
            with self._lock:
                t0 = time.perf_counter()
                table = self._results.pop(ticket.ticket)
                self.stats["rows_served"] += table.num_rows
                self.stats["bytes_served"] += table.nbytes
                self.stats["busy_s"] += time.perf_counter() - t0
            return flight.RecordBatchStream(table)

        def list_actions(self, context):
            return [("stats", "server-side counters as JSON")]

        def do_action(self, context, action):
            if action.type != "stats":
                raise flight.FlightServerError(
                    f"unknown action {action.type!r}")
            with self._lock:
                body = json.dumps(self.stats).encode()
            yield flight.Result(body)

    return StoreServer()


def read_stats(location: str) -> dict:
    """Client side of the ``stats`` action."""
    import pyarrow.flight as flight

    client = flight.FlightClient(location)
    try:
        result = next(iter(client.do_action(flight.Action("stats", b""))))
        return json.loads(result.body.to_pybytes())
    finally:
        client.close()


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--points", type=int, required=True)
    ap.add_argument("--threads", type=int, default=1)
    args = ap.parse_args(argv)

    sys.path.insert(0, str(Path(__file__).resolve().parent.parent))
    import duckdb

    con = duckdb.connect(config={"threads": args.threads})
    load_points(con, args.points)
    server = make_server(con)
    print(f"READY {server.port}", flush=True)
    server.serve()
    return 0


if __name__ == "__main__":
    sys.exit(main())
