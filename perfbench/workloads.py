"""The benchmark's workloads: a fixed list of operations each, every one
with a DuckDB or plain-Python expectation computed apart from the engine.

An operation is one ``Orchestrator.run_pipeline`` call or one catalog
query written to the ``noop`` sink. ``Op.run`` executes it and is what
the timed passes measure; ``Op.check`` executes it on the untimed check
pass and returns None when the output is right, else a reason.
"""

from __future__ import annotations

import glob
import json
import os
import urllib.request

import oracle
from emulator import contacts
from spans import catalyst_phases


class Ctx:
    """What operations share within one run."""

    def __init__(self, spark, tracer, data_dir: str, out_dir: str, seed: int):
        self.spark = spark
        self.tracer = tracer
        self.data_dir = data_dir
        self.out_dir = out_dir
        self.seed = seed
        self.con = oracle.duckdb_con(data_dir)
        self.emulator_url: str | None = None


# ------------------------------------------------------------ catalog ops


class CatalogOp:
    def __init__(self, name: str):
        self.name = name

    def run(self, ctx: Ctx) -> None:
        from openetl_spark import catalog

        tr = ctx.tracer
        with tr.span("queries.build"):
            df = catalog.QUERIES[self.name](ctx.spark, ctx.data_dir)
        if tr.enabled:
            group = f"op{tr.op_id}"
            tr.count("queries.eager_jobs",
                     len(ctx.spark.sparkContext.statusTracker().getJobIdsForGroup(group)))
            for phase, secs in catalyst_phases(df).items():
                tr.count(f"catalyst.{phase}_s", secs)
        with tr.span("queries.write"):
            df.write.format("noop").mode("overwrite").save()

    def check(self, ctx: Ctx) -> str | None:
        from openetl_spark import catalog

        actual = catalog.QUERIES[self.name](ctx.spark, ctx.data_dir).toPandas()
        return oracle.mismatch(actual, ctx.con.sql(catalog.ORACLE[self.name]).df())


# ----------------------------------------------------------- pipeline ops


def _written(path: str) -> str:
    """DuckDB relation over the parquet files a sink wrote, in file order."""
    files = sorted(glob.glob(os.path.join(path, "*.parquet")))
    if not files:
        raise AssertionError(f"sink wrote no parquet files under {path}")
    return f"SELECT * FROM read_parquet({files!r})"


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(f) for f in glob.glob(os.path.join(path, "*")))


def _emulator(ctx: Ctx, path: str, method: str = "GET"):
    data = b"{}" if method == "POST" else None
    req = urllib.request.Request(ctx.emulator_url + path, data=data, method=method)
    with urllib.request.urlopen(req, timeout=30) as resp:
        return json.loads(resp.read())


class PipelineOp:
    """One Orchestrator pipeline whose source is built by ``source(ctx)``
    and whose target is a parquet directory or the emulator."""

    ordered = False

    def __init__(self, name: str):
        self.name = name

    def pipeline(self, ctx: Ctx):
        from openetl_spark import Pipeline

        return Pipeline(id=self.name, source=self.source(ctx), target=self.target(ctx))

    def target(self, ctx: Ctx):
        from openetl_spark import Connector

        return Connector(adapter_id="parquet", endpoint_id=os.path.join(ctx.out_dir, self.name),
                         config={"mode": "overwrite"})

    def run(self, ctx: Ctx) -> None:
        from openetl_spark import Orchestrator

        tr = ctx.tracer
        if tr.enabled and ctx.emulator_url:
            _emulator(ctx, "/_reset", "POST")
        with tr.span("pipeline.run"):
            Orchestrator(spark=ctx.spark).run_pipeline(self.pipeline(ctx))
        if tr.enabled:
            self.count(ctx)

    def count(self, ctx: Ctx) -> None:
        ctx.tracer.count("sinks.bytes_written", _dir_bytes(os.path.join(ctx.out_dir, self.name)))
        if ctx.emulator_url:
            stats = _emulator(ctx, "/_stats")
            ctx.tracer.count("sources.http_bytes", stats["search_bytes"])
            ctx.tracer.count("sinks.upload_requests", stats["upload_requests"])
            ctx.tracer.count("sinks.upload_rows", stats["upload_rows"])

    def check(self, ctx: Ctx) -> str | None:
        self.run(ctx)
        return self.verify(ctx, _written(os.path.join(ctx.out_dir, self.name)))

    def verify(self, ctx: Ctx, written: str) -> str | None:
        """Compare what the sink wrote with the ``expected`` SQL."""
        if self.ordered:
            return oracle.mismatch(ctx.con.sql(written).df(), ctx.con.sql(self.expected).df(),
                                   ordered=True)
        return oracle.sql_mismatch(ctx.con, written, self.expected)


class LineitemOrLeg(PipelineOp):
    """Filter with an OR group, project, and run the transform chain."""

    def source(self, ctx: Ctx):
        from openetl_spark import Connector, Filter, FilterGroup, Transformation as T

        return Connector(
            adapter_id="parquet", endpoint_id=f"{ctx.data_dir}/lineitem.parquet",
            fields=["l_orderkey", "l_partkey", "l_linenumber", "l_quantity",
                    "l_extendedprice", "l_discount", "l_returnflag", "l_linestatus",
                    "l_shipdate"],
            filters=[FilterGroup("OR", [Filter("l_returnflag", "=", "R"),
                                        Filter("l_discount", ">=", 0.08)]),
                     Filter("l_quantity", "<", 40)],
            transform=[
                T("concat", {"properties": ["l_returnflag", "l_linestatus"],
                             "glue": "-", "to": "flag_status"}),
                T("lowercase", {"field": "flag_status"}),
                T("renameKey", {"from": "l_extendedprice", "to": "price"}),
            ],
        )

    expected = """
            SELECT l_orderkey, l_partkey, l_linenumber, l_quantity, l_extendedprice,
                   l_discount, l_returnflag, l_linestatus, l_shipdate,
                   lower(l_returnflag || '-' || l_linestatus) AS flag_status,
                   l_extendedprice AS price
            FROM lineitem
            WHERE (l_returnflag = 'R' OR l_discount >= 0.08) AND l_quantity < 40
    """


class OrdersTopLeg(PipelineOp):
    """Filter, sort on two keys, then offset and limit: order counts."""

    ordered = True

    def source(self, ctx: Ctx):
        from openetl_spark import Connector, Filter, Sort, Transformation as T

        return Connector(
            adapter_id="parquet", endpoint_id=f"{ctx.data_dir}/orders.parquet",
            fields=["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
                    "o_orderdate", "o_orderpriority"],
            filters=[Filter("o_orderstatus", "in", ["F", "O"]),
                     Filter("o_totalprice", ">", 100_000.0)],
            sort=[Sort("o_totalprice", "desc"), Sort("o_orderkey", "asc")],
            offset=50, limit=2000,
            transform=[
                T("trim", {"field": "o_orderpriority", "to": "priority"}),
                T("lowercase", {"field": "priority"}),
                T("concat", {"properties": ["o_orderstatus", "priority"],
                             "glue": "/", "to": "status_priority"}),
            ],
        )

    expected = """
            SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate,
                   o_orderpriority, lower(trim(o_orderpriority)) AS priority,
                   o_orderstatus || '/' || lower(trim(o_orderpriority)) AS status_priority
            FROM orders
            WHERE o_orderstatus IN ('F', 'O') AND o_totalprice > 100000
            ORDER BY o_totalprice DESC, o_orderkey ASC
            LIMIT 2000 OFFSET 50
    """


class EventsOrLeg(PipelineOp):
    """Event stream: OR filter and the transform chain on strings."""

    def source(self, ctx: Ctx):
        from openetl_spark import Connector, Filter, FilterGroup, Transformation as T

        return Connector(
            adapter_id="parquet", endpoint_id=f"{ctx.data_dir}/events.parquet",
            fields=["event_id", "ts", "user_id", "event_type", "value", "props"],
            filters=[FilterGroup("OR", [Filter("event_type", "=", "purchase"),
                                        Filter("value", ">", 150.0)])],
            transform=[
                T("concat", {"properties": ["event_type", "props"], "glue": " ", "to": "tag"}),
                T("trim", {"field": "tag"}),
                T("lowercase", {"field": "event_type", "to": "etype"}),
                T("renameKey", {"from": "user_id", "to": "uid"}),
            ],
        )

    expected = """
            SELECT event_id, ts, user_id, event_type, value, props,
                   trim(event_type || ' ' || props) AS tag,
                   lower(event_type) AS etype, user_id AS uid
            FROM events
            WHERE event_type = 'purchase' OR value > 150
    """


class RestExtractLeg(PipelineOp):
    """Cursor-paginated HubSpot contact search in wire mode, into parquet."""

    def __init__(self, name: str, records: int):
        super().__init__(name)
        self.records = records

    def source(self, ctx: Ctx):
        from openetl_spark import Connector, Transformation as T

        config = {"wire": True, "base_url": ctx.emulator_url}
        if ctx.tracer.enabled:
            config["transport"] = _timed_transport(ctx)
        return Connector(
            adapter_id="hubspot", endpoint_id="contacts", config=config,
            fields=["email", "firstname", "lastname", "company", "lifecyclestage"],
            transform=[
                T("lowercase", {"field": "email"}),
                T("trim", {"field": "company"}),
                T("concat", {"properties": ["firstname", "lastname"], "glue": " ",
                             "to": "fullname"}),
                T("renameKey", {"from": "lifecyclestage", "to": "stage"}),
            ],
        )

    def verify(self, ctx: Ctx, written: str) -> str | None:
        import pandas as pd

        rows = []
        for rec in contacts(ctx.seed, self.records):
            p = rec["properties"]
            rows.append({
                "email": p["email"].lower(), "firstname": p["firstname"],
                "lastname": p["lastname"], "company": p["company"].strip(),
                "lifecyclestage": p["lifecyclestage"],
                "fullname": f"{p['firstname']} {p['lastname']}",
                "stage": p["lifecyclestage"],
            })
        return oracle.mismatch(ctx.con.sql(written).df(), pd.DataFrame(rows))


def _timed_transport(ctx: Ctx):
    """The default wire transport, wrapped to time and count each page."""
    from openetl_spark import Connector
    from openetl_spark.sources.http_transport import HttpTransport
    from openetl_spark.sources.services import SERVICES

    inner = HttpTransport.for_service(SERVICES["hubspot"], Connector("hubspot", "contacts"))
    tr = ctx.tracer

    def transport(request: dict, page_options: dict) -> dict:
        with tr.span("sources.http"):
            page = inner(request, page_options)
        tr.count("sources.http_requests")
        tr.count("sources.rows_fetched", len(page["data"]))
        return page

    return transport


class RestUploadLeg(PipelineOp):
    """Parquet rows uploaded through HubSpot create-contact batches."""

    def source(self, ctx: Ctx):
        from openetl_spark import Connector, Filter, Transformation as T

        return Connector(
            adapter_id="parquet", endpoint_id=f"{ctx.data_dir}/customer.parquet",
            fields=["c_custkey", "c_name", "c_mktsegment"],
            filters=[Filter("c_acctbal", ">", 5000.0)],
            transform=[
                T("renameKey", {"from": "c_name", "to": "firstname"}),
                T("lowercase", {"field": "c_mktsegment", "to": "company"}),
            ],
        )

    def target(self, ctx: Ctx):
        from openetl_spark import Connector

        return Connector(adapter_id="hubspot", endpoint_id="create-contact",
                         config={"base_url": ctx.emulator_url})

    def count(self, ctx: Ctx) -> None:
        stats = _emulator(ctx, "/_stats")
        ctx.tracer.count("sinks.upload_requests", stats["upload_requests"])
        ctx.tracer.count("sinks.upload_rows", stats["upload_rows"])

    def check(self, ctx: Ctx) -> str | None:
        import pandas as pd

        _emulator(ctx, "/_reset", "POST")
        self.run(ctx)
        received = pd.DataFrame(_emulator(ctx, "/_received"))
        expected = ctx.con.sql("""
            SELECT c_custkey, c_name, c_mktsegment, c_name AS firstname,
                   lower(c_mktsegment) AS company
            FROM customer WHERE c_acctbal > 5000
        """).df()
        return oracle.mismatch(received, expected)


# -------------------------------------------------------------- workloads


class Workload:
    def __init__(self, name: str, scale: float, ops: list, warmup_passes: int,
                 layouts=(), rest_records: int = 0):
        self.name = name
        self.scale = scale
        self.ops = ops
        # Untimed passes after the check pass: pass times keep falling for
        # several passes as the JIT catches up.
        self.warmup_passes = warmup_passes
        self.layouts = layouts  # (name, build(spark, data_dir)) pairs
        self.rest_records = rest_records


def _graph_layout(spark, data_dir):
    from openetl_spark.queries.analytics_r07 import _graph_layout

    return _graph_layout(spark, data_dir)


REST_RECORDS = 2_000

WORKLOADS = {
    "pipeline_etl": Workload(
        "pipeline_etl", 0.02,
        [LineitemOrLeg("lineitem_or"), OrdersTopLeg("orders_top"), EventsOrLeg("events_or"),
         RestExtractLeg("contacts_extract", REST_RECORDS), RestUploadLeg("contacts_upload")],
        warmup_passes=4, rest_records=REST_RECORDS,
    ),
    # Short relational queries (construction, Catalyst and codegen
    # dominate; no layout, few jobs) next to an eager-job query (BFS over
    # the graph layout, one checkpoint job per frontier round).
    "catalog": Workload(
        "catalog", 0.004,
        [CatalogOp(n) for n in (
            "q5_regional_revenue", "window_rank", "grouping_sets", "set_except",
            "declarative_star_join", "connector_slice", "transform_chain",
            "bfs_hops_parts",
        )],
        warmup_passes=2, layouts=[("graph", _graph_layout)],
    ),
}

# Where, under spark-warehouse/, the layouts above persist their builds
# (one subdirectory per data directory name).
LAYOUT_DIRS = ("graph_cache",)
