"""The two single-client workloads that call the engine in-process.

``pipeline_staged`` builds the four driver-staged registry entries through
``queries.get(name).build`` and fetches their rows; ``sensql_fanout``
sends SenSQL queries through ``sensql.FederatedEngine.sql``.  Both are
closed loops: the next request is sent when the previous one has
returned its rows.

Correctness: every distinct request is compared once with an independent
answer (``testing``'s DuckDB oracle for the builders, plain Spark SQL over
``events`` for the fan-out), and every other response to the same request
must carry the same result fingerprint.
"""

from __future__ import annotations

import random
import time

from procs import stop_spark
from spans import (
    by_request,
    duration,
    inclusive,
    mean,
    median,
    outermost,
    result_hash,
    self_time,
    vm_hwm_mib,
)

PIPELINE_QUERIES = (
    "graph_kcore",
    "sim_query_expansion_prf",
    "dedup_cluster_assignment",
    "dedup_eval_pr",
)

# --- SenSQL fixture: 64 nodes on an 8 x 8 grid of 10 x 10 service regions.
GRID = 8
NODES = GRID * GRID
WIDTH = 16  # nodes every named shape resolves


def _cell(x: int, y: int) -> int:
    return y * GRID + x


def _shapes() -> list[tuple[str, str, list[int]]]:
    """(feature name, polygon WKT, node indexes it covers) for every shape.

    Each shape is a rectangle of whole cells, inset by one unit so it
    overlaps exactly the cells it covers and touches no neighbour: 4 x 4
    blocks, 2 x 8 columns and 8 x 2 rows, 16 cells each.
    """
    out = []
    for w, h in ((4, 4), (2, 8), (8, 2)):
        for x0 in range(GRID - w + 1):
            for y0 in range(GRID - h + 1):
                x1, y1, x2, y2 = x0 * 10 + 1, y0 * 10 + 1, (x0 + w) * 10 - 1, (y0 + h) * 10 - 1
                wkt = f"POLYGON (({x1} {y1}, {x2} {y1}, {x2} {y2}, {x1} {y2}))"
                cells = [_cell(x, y) for x in range(x0, x0 + w) for y in range(y0, y0 + h)]
                out.append((f"zone_{w}x{h}_{x0}_{y0}", wkt, sorted(cells)))
    return out


THRESHOLDS = (0, 10, 25, 50, 75, 100, 150, 200)

FANOUT_SQL = """
    SELECT sensor, count(*) AS n, round(sum(value), 4) AS sum_val
    FROM measurements, feature, shape
    WHERE st_intersects(shape.geometries, nodes.service_region)
      AND shape.id = feature.shape
      AND feature.name = '{name}'
      AND measurements.value > {threshold}
    GROUP BY sensor ORDER BY sensor
"""

ORACLE_SQL = """
    SELECT event_type AS sensor, count(*) AS n, round(sum(value), 4) AS sum_val
    FROM events
    WHERE user_id % {nodes} IN ({node_list}) AND value > {threshold}
    GROUP BY 1 ORDER BY sensor
"""


def _node_id(i: int) -> str:
    return f"n{i:02d}"


# --- tracing hooks -----------------------------------------------------------


def install_spans(tracer) -> None:
    """Wrap the public engine calls this module drives with spans."""
    from sensql_presto_spark import catalog, sensql
    from sensql_presto_spark.sensql import rewrite

    catalog.table = tracer.wrap(catalog.table, "catalog.table")
    catalog.register_views = tracer.wrap(catalog.register_views, "catalog.register_views")
    for fn in ("split_query", "process_from", "build_forward_query", "build_residual_where"):
        setattr(rewrite, fn, tracer.wrap(getattr(rewrite, fn), "sensql.rewrite"))
    sensql.MetadataDB.resolve_nodes = tracer.wrap(
        sensql.MetadataDB.resolve_nodes,
        "sensql.resolve",
        on_result=lambda ids: {"nodes": len(ids)},
    )
    sensql.FederatedEngine.sql = tracer.wrap(sensql.FederatedEngine.sql, "sensql.sql")


_CATALOG = {"catalog.table", "catalog.register_views"}


def layer_metrics(spans: list[dict], requests: list) -> dict:
    """Per-request layer figures, over the timed requests."""
    per = by_request(spans)
    rows = [per.get(r, []) for r in requests]

    def named(rs, name):
        return [s for s in rs if s["name"] == name]

    def per_request_sum(fn):
        return [sum(fn(rs)) for rs in rows]

    out = {
        "catalog.table_calls": mean(len(named(rs, "catalog.table")) for rs in rows),
        "catalog.table_s": mean(
            per_request_sum(lambda rs: [duration(s) for s in outermost(rs, _CATALOG)])
        ),
        "catalog.jobs": mean(
            per_request_sum(lambda rs: [inclusive(s, rs, "jobs") for s in outermost(rs, _CATALOG)])
        ),
        "sensql.rewrite_s": median(
            per_request_sum(lambda rs: [duration(s) for s in named(rs, "sensql.rewrite")])
        ),
        "sensql.resolve_s": median(
            per_request_sum(lambda rs: [duration(s) for s in named(rs, "sensql.resolve")])
        ),
        "sensql.nodes_resolved": mean(
            per_request_sum(lambda rs: [s["nodes"] for s in named(rs, "sensql.resolve")])
        ),
        "sensql.branch_build_s": median(
            per_request_sum(lambda rs: [self_time(s, rs) for s in named(rs, "sensql.branch")])
        ),
        "sensql.branches": mean(len(named(rs, "sensql.branch")) for rs in rows),
        "sensql.plan_s": median(
            per_request_sum(lambda rs: [self_time(s, rs) for s in named(rs, "sensql.sql")])
        ),
        "queries.build_s": median(
            per_request_sum(lambda rs: [duration(s) for s in named(rs, "queries.build")])
        ),
    }
    for key in ("jobs", "stages"):
        out[f"queries.build_{key}"] = mean(
            per_request_sum(lambda rs: [inclusive(s, rs, key) for s in named(rs, "queries.build")])
        )
    out["exec.run_s"] = median(
        per_request_sum(lambda rs: [duration(s) for s in named(rs, "exec.run")])
    )
    for key in ("jobs", "stages", "tasks"):
        out[f"exec.{key}"] = mean(
            per_request_sum(lambda rs: [inclusive(s, rs, key) for s in named(rs, "exec.run")])
        )
    return out


# --- workloads -----------------------------------------------------------------


class PipelineStaged:
    """One client builds and fetches the four staged builders in seeded order."""

    name = "pipeline_staged"
    # Passes before timing.  In a traced run at 4 CPUs pass time went
    # 10.5 -> 4.6 -> 4.1 -> 3.7 s over the first four passes and the timed
    # passes took 3.4-3.6 s.
    warmup_requests = 3 * len(PIPELINE_QUERIES)
    requests_per_second = 1.2  # nominal; sizes the fixed request list

    def __init__(self, spark, data_dir: str, tracer, seed: int) -> None:
        self.spark, self.data_dir, self.tracer = spark, data_dir, tracer
        self.rng = random.Random(seed)

    def setup(self) -> None:
        from sensql_presto_spark import queries

        self.specs = {n: queries.get(n) for n in PIPELINE_QUERIES}

    def requests(self, count: int) -> list[str]:
        """Whole passes over the four builders, each pass in seeded order."""
        out: list[str] = []
        while len(out) < count:
            order = list(PIPELINE_QUERIES)
            self.rng.shuffle(order)
            out.extend(order)
        return out

    def call(self, key: str, request_id):
        with self.tracer.span("queries.build", request=request_id, query=key):
            df = self.specs[key].build(self.spark, self.data_dir)
        with self.tracer.span("exec.run", request=request_id):
            return df.toPandas()

    def check(self, key: str, pdf, ctx) -> None:
        from sensql_presto_spark.testing import assert_frames_match, duckdb_connection

        oracle = self.specs[key].oracle

        def compute():
            con = duckdb_connection(self.data_dir)
            try:
                return con.sql(oracle).df()
            finally:
                con.close()

        assert_frames_match(pdf, ctx.answer(f"duckdb|{oracle}", compute))


class SensqlFanout:
    """One client sends 16-node SenSQL fan-out queries."""

    name = "sensql_fanout"
    # In a traced run at 4 CPUs the first fan-out took 3.2 s, the next
    # seven 1.7-1.1 s, and from the ninth on about 1.0 s, as timed.
    warmup_requests = 8
    requests_per_second = 1.2
    pool_size = 4  # distinct (shape, threshold) requests per run

    def __init__(self, spark, data_dir: str, tracer, seed: int) -> None:
        self.spark, self.data_dir, self.tracer = spark, data_dir, tracer
        self.rng = random.Random(seed)

    def setup(self) -> None:
        from pyspark.sql import functions as F

        from sensql_presto_spark import catalog
        from sensql_presto_spark.sensql import FederatedEngine, MetadataDB, rewrite

        shapes = _shapes()
        nodes = []
        for i in range(NODES):
            x, y = i % GRID, i // GRID
            x1, y1, x2, y2 = x * 10, y * 10, x * 10 + 10, y * 10 + 10
            nodes.append((_node_id(i), f"POLYGON (({x1} {y1}, {x2} {y1}, {x2} {y2}, {x1} {y2}))"))
        metadata = MetadataDB(
            nodes,
            [(k, wkt) for k, (_, wkt, _) in enumerate(shapes)],
            [(k, name, "zone") for k, (name, _, _) in enumerate(shapes)],
        )
        spark, data_dir, tracer = self.spark, self.data_dir, self.tracer

        def node_slice(i: int):
            def build():
                with tracer.span("sensql.branch"):
                    events = catalog.table(spark, data_dir, "events")
                    return events.where(F.col("user_id") % NODES == i).select(
                        F.lit(_node_id(i)).alias("node_id"),
                        "ts",
                        F.col("event_type").alias("sensor"),
                        "value",
                    )

            return build

        self.engine = FederatedEngine(spark, metadata, {_node_id(i): node_slice(i) for i in range(NODES)})
        self.cells = {name: cells for name, _, cells in shapes}
        picked = self.rng.sample(sorted(self.cells), self.pool_size)
        self.pool = [(name, self.rng.choice(THRESHOLDS)) for name in picked]
        # Every request must fan out to the same width: check the metadata
        # plane resolves each pooled shape to exactly its 16 cells.
        for name, threshold in self.pool:
            where = rewrite.split_query(FANOUT_SQL.format(name=name, threshold=threshold)).where_text
            got = metadata.resolve_nodes(rewrite.build_forward_query(where))
            want = [_node_id(i) for i in self.cells[name]]
            if got != want or len(got) != WIDTH:
                raise RuntimeError(f"shape {name} resolves {len(got)} nodes, want {WIDTH}: {got}")

    def requests(self, count: int) -> list:
        return [self.rng.choice(self.pool) for _ in range(count)]

    def call(self, key, request_id):
        name, threshold = key
        with self.tracer.span("sensql.request", request=request_id):
            df = self.engine.sql(FANOUT_SQL.format(name=name, threshold=threshold))
        with self.tracer.span("exec.run", request=request_id):
            return df.toPandas()

    def check(self, key, pdf, ctx) -> None:
        from sensql_presto_spark.testing import assert_frames_match

        name, threshold = key
        sql = ORACLE_SQL.format(
            nodes=NODES, node_list=", ".join(map(str, self.cells[name])), threshold=threshold
        )
        assert_frames_match(pdf, ctx.answer(f"spark|{sql}", lambda: self.spark.sql(sql).toPandas()))


WORKLOADS = {w.name: w for w in (PipelineStaged, SensqlFanout)}


def run(workload_cls, ctx) -> dict:
    """Set up, warm up, time a fixed request list, then check every result."""
    from sensql_presto_spark import cli
    from sensql_presto_spark.session import get_spark

    tracer = ctx.tracer
    spark = get_spark(app_name="perfbench")
    tracer.sc = spark.sparkContext if tracer.enabled else None
    if tracer.enabled:
        install_spans(tracer)
    cli.prepare_session(spark, ctx.data_dir)
    wl = workload_cls(spark, ctx.data_dir, tracer, ctx.seed)
    wl.setup()

    count = max(4, round(ctx.seconds * wl.requests_per_second))
    keys = wl.requests(wl.warmup_requests + count)
    warm_keys, timed_keys = keys[: wl.warmup_requests], keys[wl.warmup_requests :]
    results: list = []  # (key, pandas frame) for every request, warm-up first

    t_warm = time.perf_counter()
    for i, key in enumerate(warm_keys):
        t0 = time.perf_counter()
        results.append((key, wl.call(key, ("warmup", i))))
        ctx.log(f"warm-up request {i} {key}: {time.perf_counter() - t0:.3f}s")
    warmup_s = time.perf_counter() - t_warm

    t_calib = time.perf_counter()
    calib_before = ctx.calibrate(spark)
    t_first = time.perf_counter()
    setup_s = time.time() - ctx.process_start - (t_first - t_calib)

    latencies, failed = [], 0
    for i, key in enumerate(timed_keys):
        t0 = time.perf_counter()
        try:
            pdf = wl.call(key, i)
        except Exception as exc:  # noqa: BLE001 — a failed request is counted, not fatal
            failed += 1
            ctx.log(f"request {i} {key} failed: {exc}")
            continue
        latencies.append(time.perf_counter() - t0)
        results.append((key, pdf))
        ctx.log(f"request {i} {key}: {latencies[-1]:.3f}s")
        if tracer.enabled:
            tracer.resolve_jobs([s for s in tracer.spans if s.get("request") == i])
    wall_s = time.perf_counter() - t_first
    rss_mib = vm_hwm_mib()
    calib_after = ctx.calibrate(spark)

    correct = _check(wl, results, ctx)
    out = {
        "attempted": len(timed_keys),
        "failed": failed,
        "correct": correct and failed == 0,
        "latencies": latencies,
        "first_page": latencies,  # rows arrive in one piece in-process
        "wall_s": wall_s,
        "rss_mib": rss_mib,
        "setup_s": setup_s,
        "warmup_s": warmup_s,
        "calib_s": [calib_before, calib_after],
        "layers": layer_metrics(tracer.spans, list(range(len(timed_keys)))) if tracer.enabled else {},
    }
    stop_spark(spark)
    return out


def _check(wl, results: list, ctx) -> bool:
    """Oracle-check each distinct request once; match all others by hash."""
    checked: dict = {}
    ok = True
    for key, pdf in results:
        digest = result_hash(pdf.itertuples(index=False, name=None))
        if key not in checked:
            try:
                wl.check(key, pdf, ctx)
            except AssertionError as exc:
                ctx.log(f"oracle mismatch for {key}: {exc}")
                ok = False
            checked[key] = digest
        elif checked[key] != digest:
            ctx.log(f"response for {key} differs from its checked result")
            ok = False
    ctx.log(f"checked {len(checked)} distinct requests against their oracle, {len(results)} responses by hash")
    return ok
