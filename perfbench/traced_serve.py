"""``python -m ciws_server_spark serve`` with spans around its layers.

Wraps the public names as the server module sees them, tags each
request's Spark jobs with a job group, then serves exactly as the
engine's ``__main__`` does. SIGTERM stops it; the spans are written to
``--spans`` and the Spark session is stopped so its event log is
complete.

    python perfbench/traced_serve.py --tables DIR --port N --spans FILE
"""

from __future__ import annotations

import argparse
import os
import signal
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from spans import Tracer, frame_attrs  # noqa: E402


def _interrupt(*_):
    raise KeyboardInterrupt


def install(tracer: Tracer, spark, api, srv) -> None:
    from ciws_server_spark.plans import users
    from ciws_server_spark.sources import http_api, sinks
    from ciws_server_spark.streaming import subscriptions

    def on_frame(_sp, args, _out):
        tracer.event("frame", **frame_attrs(args[0]))

    tracer.wrap(http_api, "run_influxql", "influxql.run")
    tracer.wrap(http_api, "serialize_frame", "http_api.serialize", after=on_frame)
    tracer.wrap(sinks, "load_tables", "sinks.load_tables")
    tracer.wrap(sinks, "append_points", "sinks.append")
    tracer.wrap(subscriptions, "forward_batch", "subscriptions.forward")
    tracer.wrap(users, "authorize", "users.authorize")

    chunks = http_api.serialize_frame_chunks

    def traced_chunks(df, *a, **k):
        return tracer.iterate(
            chunks(df, *a, **k), "http_api.serialize",
            done=lambda: tracer.event("frame", **frame_attrs(df)))

    http_api.serialize_frame_chunks = traced_chunks

    parse = http_api.parse_lines

    def traced_parse(raw):
        # parse_lines is lazy; the write forces it with an eager
        # localCheckpoint, which is timed under the same layer name
        with tracer.span("line_protocol.parse"):
            df = parse(raw)
        tracer.wrap(df, "localCheckpoint", "line_protocol.parse")
        return df

    http_api.parse_lines = traced_parse

    tracer.wrap(api, "handle_query", "handler.query")
    tracer.wrap(api, "handle_write", "handler.write")
    chunked = api.handle_query_chunked

    def traced_chunked(params):
        with tracer.span("handler.query"):
            status, it = chunked(params)
        return status, tracer.iterate(it, "handler.query")

    api.handle_query_chunked = traced_chunked

    sc = spark.sparkContext
    handler = srv.RequestHandlerClass
    for method in ("do_GET", "do_POST"):
        fn = getattr(handler, method)

        def traced(self, fn=fn, method=method):
            with tracer.span(f"request.{method[3:]}", root=True,
                             path=self.path.split("?", 1)[0]) as sp:
                sc.setJobGroup(f"req-{sp['id']}", sp["path"])
                fn(self)

        setattr(handler, method, traced)


def main() -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--tables", required=True)
    p.add_argument("--host", default="127.0.0.1")
    p.add_argument("--port", type=int, default=8086)
    p.add_argument("--database")
    p.add_argument("--spans", required=True)
    args = p.parse_args()

    from ciws_server_spark.session import get_spark
    from ciws_server_spark.sources import http_api

    spark = get_spark("ciws-serve")
    tracer = Tracer()
    api = http_api.InfluxHTTPApi(spark, args.tables, database=args.database)
    srv = http_api.serve(api, host=args.host, port=args.port)
    install(tracer, spark, api, srv)
    host, port = srv.server_address
    signal.signal(signal.SIGTERM, _interrupt)
    print(f"ciws wire API on http://{host}:{port}", flush=True)
    try:
        srv.serve_forever()
    except KeyboardInterrupt:
        pass
    finally:
        srv.server_close()
        tracer.dump(args.spans)
        spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
