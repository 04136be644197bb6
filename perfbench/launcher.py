"""The engine's HTTP server with spans around its public functions.

    python perfbench/launcher.py --sf-dir <tables> --spans <out.json>

Starts the same ``SqlServer`` as ``python -m sensql_presto_spark.server``
on a free port and prints the same ``listening on`` line.  Before the
server is built it wraps, in this process only,

- ``cli.prepare_session`` and the catalog reads it makes,
- ``statements.StatementSession.execute`` (split into reads and writes),
- ``server.SqlServer._session_for`` (a session fork for a new client),
- ``server.SqlServer._run_admitted`` (one query, tagged with its id).

On SIGTERM it writes the spans, the number of queries the server retains
and the number that failed to ``--spans``, then exits.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import signal
import sys
import threading

sys.path[:0] = [os.path.dirname(os.path.dirname(os.path.abspath(__file__))), os.path.dirname(os.path.abspath(__file__))]

from spans import Tracer  # noqa: E402

_WRITE = re.compile(r"^\s*(INSERT|DELETE|UPDATE|MERGE|CREATE|DROP)\b", re.IGNORECASE)


def install(tracer: Tracer) -> None:
    from sensql_presto_spark import catalog, cli, server, statements

    catalog.table = tracer.wrap(catalog.table, "catalog.table")
    catalog.register_views = tracer.wrap(catalog.register_views, "catalog.register_views")
    cli.prepare_session = tracer.wrap(cli.prepare_session, "cli.prepare_session")

    execute = statements.StatementSession.execute

    def traced_execute(self, text):
        kind = "write" if _WRITE.match(text) else "read"
        with tracer.span("statements.execute", kind=kind):
            return execute(self, text)

    statements.StatementSession.execute = traced_execute

    session_for = server.SqlServer._session_for

    def traced_session_for(self, client):
        with tracer.span("server.session", fork=client not in self._sessions):
            return session_for(self, client)

    server.SqlServer._session_for = traced_session_for

    run_admitted = server.SqlServer._run_admitted

    def traced_run_admitted(self, q):
        with tracer.span("server.run", request=q.query_id) as rec:
            run_admitted(self, q)
        # the server runs the query's own jobs under its id as job group
        rec["group"] = q.query_id
        tracer.resolve_jobs([s for s in tracer.spans if s.get("request") == q.query_id])

    server.SqlServer._run_admitted = traced_run_admitted


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--sf-dir", required=True)
    ap.add_argument("--spans", required=True)
    args = ap.parse_args()

    from sensql_presto_spark import server
    from sensql_presto_spark.session import get_spark

    tracer = Tracer(enabled=True)
    spark = get_spark()
    tracer.sc = spark.sparkContext
    install(tracer)
    srv = server.SqlServer(spark, args.sf_dir, port=0).start()

    def dump(*_):
        srv.stop()
        out = {
            "spans": tracer.spans,
            "overhead_s": tracer.overhead_s,
            "retained_queries": len(srv.queries),
            "failed_queries": sum(1 for q in srv.queries.values() if q.state == "FAILED"),
        }
        with open(args.spans, "w") as f:
            json.dump(out, f)
        spark.stop()
        sys.exit(0)

    signal.signal(signal.SIGTERM, dump)
    print(f"listening on http://127.0.0.1:{srv.port}/v1/statement", flush=True)
    threading.Event().wait()


if __name__ == "__main__":
    main()
