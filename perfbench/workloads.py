"""The benchmark workloads: what one timed pass runs, on which input,
and which outputs the correctness check reads back.

A workload is one or more PARTS, each an input family with a fixed list
of UNITS over it (a pipeline, the curate job, a registry query). One
pass runs every unit once, in order, each sinking its output to files
under the pass's output directory, one Spark job at a time (a closed
loop with one client).
"""

from __future__ import annotations

import os
import shutil
from collections.abc import Callable
from dataclasses import dataclass

TRANSIT_UNITS = (
    "ads_travel_info",
    "ads_travel_info_hll",
    "ads_travel_time",
    "ads_stop_trips",
    "ads_transfer_count",
    "ads_travel_distance",
    "ads_route_trips",
    "ads_ridership",
    "ads_revenue",
    "dwd_bus_route",
)
DWD_OUTPUTS = ("route_stop_info", "stop_info", "route_info")
CURATE_STAGES = (
    "input",
    "normalize_quality",
    "dedup",
    "decontam",
    "mix",
    "pack",
    "write",
)
# one registry consumer per fixpoint loop of operators/graph.py (pagerank,
# label_propagation, k_core, coreness, k_truss, neighborhood_function +
# bfs_reach_counts, sssp, hits); g1 and g8 also build the shared
# trade_edges and cosupply_pairs / cosupply_knn stages
GRAPH_QUERIES = (
    "g1_pagerank_suppliers",
    "g3_trade_communities",
    "g5_kcore_backbone",
    "g7_coreness",
    "g8_truss_backbone",
    "g9_neighborhood_anf",
    "g11_sssp_trusted_distance",
    "g14_hits_authorities",
)


@dataclass
class Unit:
    name: str
    run: Callable[[], dict]  # returns extra layer timings, may be empty


@dataclass
class Part:
    """One input family and the units that run over it."""

    kind: str  # input generator (inputs.GENERATORS)
    rows_key: str  # generated-input property counting the input rows
    prepare: Callable  # (spark, in_dir) -> context, untimed
    units: Callable  # (spark, ctx, out_dir) -> list[Unit]
    outputs: Callable  # (out_dir) -> list[(name, path, format)]
    warm_units: tuple[str, ...]  # what the warm-up pass runs on the small input


@dataclass
class Workload:
    name: str
    parts: tuple[Part, ...]


# nominal length of one timed pass: `--seconds` / PASS_S passes are run
PASS_S = 15.0


# --- transit part (nightly) ----------------------------------------------


def _transit_prepare(spark, in_dir: str) -> dict:
    """AFC legs and ticket sales derived from `events` by the adapters
    in transit_common, materialized once (a deployment reads staged
    AFC data), plus dimension-sized line/department/calendar/VDV
    tables."""
    from ad_data_pipelines_spark.plans.transit_common import (
        afc_legs_from_events,
        sales_from_events,
    )
    from ad_data_pipelines_spark.schemas import (
        VDV_LINE,
        VDV_OPERATING_DEPARTMENT,
        VDV_ROUTE_SEQUENCE,
        VDV_STOP,
    )

    events = spark.read.parquet(f"{in_dir}/events.parquet")
    ctx = {
        "legs": afc_legs_from_events(events).localCheckpoint(),
        "sales": sales_from_events(events).localCheckpoint(),
        "line": spark.createDataFrame(
            [(1, 10 + i, f"R{i}", 11 if i < 2 else 22, f"Route {i}") for i in range(4)],
            VDV_LINE,
        ),
        "opdep": spark.createDataFrame([(11, "AD-X"), (22, "ER-Y")], VDV_OPERATING_DEPARTMENT),
        "avm": spark.sql(
            "SELECT d AS OPD_DATE, CASE WHEN weekday(d) >= 5 THEN 'weekend' "
            "ELSE 'weekday' END AS DAY_TYPE FROM (SELECT "
            "explode(sequence(DATE'2023-01-01', DATE'2025-12-31')) AS d)"
        ),
        "svc": spark.createDataFrame(
            [
                ("R0", "Abu Dhabi", "Local"),
                ("R1", "Abu Dhabi", "Regional"),
                ("R2", "Al Ain", "Local"),
                ("R3", "Al Dhafra", "Regional"),
            ],
            "Route string, Region string, ServiceType string",
        ),
        # VDV network: 200 lines x 30-stop routes over 2000 stops
        "route_seq": spark.range(200 * 30)
        .selectExpr(
            "CAST(1 AS bigint) AS BASE_VERSION",
            "CAST(id DIV 30 AS int) AS LINE_NO",
            "concat('L', id DIV 30, '-OUT') AS ROUTE_ABBR",
            "CAST(1 AS int) AS ROUTE_NO",
            "CAST(id % 30 + 1 AS int) AS SEQUENCE_NO",
            "CAST((id * 37) % 2000 AS int) AS POINT_NO",
            "CAST(1 AS int) AS POINT_TYPE",
        )
        .to(VDV_ROUTE_SEQUENCE),
        "routes": spark.range(200).selectExpr(
            "CAST(id AS int) AS LINE_NO", "CAST(1 AS int) AS ROUTE_NO", "'OUTBOUND' AS DIRECTION"
        ),
        "stop": spark.range(2000)
        .selectExpr(
            "CAST(1 AS bigint) AS BASE_VERSION",
            "CAST(id AS int) AS POINT_NO",
            "CAST(1 AS int) AS POINT_TYPE",
            "CAST(540000000 + (id % 48) * 100000 AS bigint) AS POINT_LONGITUDE",
            "CAST(240000000 + (id DIV 100) * 100000 AS bigint) AS POINT_LATITUDE",
            "concat('Stop ', id) AS STOP_DESC",
        )
        .to(VDV_STOP),
        "polygons": {
            "west": [(53.95, 23.95), (54.405, 23.95), (54.405, 24.95), (53.95, 24.95)],
            "east": [(54.405, 23.95), (54.95, 23.95), (54.95, 24.95), (54.405, 24.95)],
        },
    }
    return ctx


def _transit_units(spark, c: dict, out: str) -> list[Unit]:
    from ad_data_pipelines_spark.plans import (
        ads_revenue,
        ads_ridership,
        ads_route_trips,
        ads_stop_trips,
        ads_transfer_count,
        ads_travel_distance,
        ads_travel_info,
        ads_travel_time,
        dwd_bus_route,
    )
    from ad_data_pipelines_spark.sources.writers import write_csv

    legs, line, opdep = c["legs"], c["line"], c["opdep"]
    builds = {
        "ads_travel_info": lambda: ads_travel_info.build(legs, line, opdep),
        "ads_travel_info_hll": lambda: ads_travel_info.build(
            legs, line, opdep, exact_distinct=False
        ),
        "ads_travel_time": lambda: ads_travel_time.build(legs, line),
        "ads_stop_trips": lambda: ads_stop_trips.build(legs, c["avm"]),
        "ads_transfer_count": lambda: ads_transfer_count.build(legs, line, opdep),
        "ads_travel_distance": lambda: ads_travel_distance.build(legs, line, opdep),
        "ads_route_trips": lambda: ads_route_trips.build(legs),
        "ads_ridership": lambda: ads_ridership.build(legs, line, c["svc"]),
        "ads_revenue": lambda: ads_revenue.build(c["sales"]),
    }

    def sink(name, build):
        def run():
            write_csv(build(), f"{out}/{name}")
            return {}

        return run

    def dwd():
        for name, df in zip(
            DWD_OUTPUTS,
            (
                dwd_bus_route.build_route_stop_info(c["route_seq"], c["routes"]),
                dwd_bus_route.build_stop_info(c["stop"], c["polygons"]),
                dwd_bus_route.build_route_info(c["route_seq"], c["stop"]),
            ),
        ):
            write_csv(df, f"{out}/dwd_bus_route.{name}")
        return {}

    units = [Unit(name, sink(name, build)) for name, build in builds.items()]
    return units + [Unit("dwd_bus_route", dwd)]


def _transit_outputs(out: str) -> list[tuple[str, str, str]]:
    names = [u for u in TRANSIT_UNITS if u != "dwd_bus_route"]
    names += [f"dwd_bus_route.{o}" for o in DWD_OUTPUTS]
    return [(n, f"{out}/{n}", "csv") for n in names]


# --- curate part (nightly) -----------------------------------------------


def _curate_prepare(spark, in_dir: str) -> dict:
    return {"docs": spark.read.parquet(f"{in_dir}/documents.parquet")}


def _curate_units(spark, c: dict, out: str) -> list[Unit]:
    from ad_data_pipelines_spark.jobs.curate_corpus import curate

    def run():
        stages: dict[str, float] = {}
        stats = curate(
            spark,
            c["docs"],
            f"{out}/curate",
            budget=2000,
            eval_source="src19",
            decontam="bloom",
            seq_tokens=2048,
            stage_timings=stages,
        )
        c["stats"] = stats
        return {f"curate.{k}.wall_s": v for k, v in stages.items()}

    return [Unit("curate_corpus", run)]


def _curate_outputs(out: str) -> list[tuple[str, str, str]]:
    return [
        ("curate.documents", f"{out}/curate/documents", "parquet"),
        ("curate.packing", f"{out}/curate/packing", "parquet"),
    ]


# --- graph part (graph_fixpoint) -----------------------------------------


def _graph_prepare(spark, in_dir: str) -> dict:
    return {"in_dir": in_dir}


def _graph_units(spark, c: dict, out: str) -> list[Unit]:
    """Every pass reads its own copy of the tables: the registry's
    session memos (shared stages, loaded tables) are keyed by the
    input directory, so a pass never reuses the previous pass's
    trade_edges / cosupply stages and always pays their build."""
    from ad_data_pipelines_spark.plans.testdata_queries import REGISTRY

    sf_dir = f"{out}/input"
    shutil.copytree(c["in_dir"], sf_dir)

    def query(name):
        def run():
            REGISTRY[name].fn(spark, sf_dir).write.mode("overwrite").parquet(f"{out}/{name}")
            return {}

        return run

    return [Unit(q, query(q)) for q in GRAPH_QUERIES]


def _graph_outputs(out: str) -> list[tuple[str, str, str]]:
    return [(q, f"{out}/{q}", "parquet") for q in GRAPH_QUERIES]


# the first Spark work of a JVM carries most of its JIT and code-generation
# cost, whichever unit it is: curate warms the nightly JVM; with g1 alone,
# g7's own cold cost stayed in the graph pass (+0.6 s and a wider spread)
TRANSIT = Part(
    "transit", "legs", _transit_prepare, _transit_units, _transit_outputs, warm_units=()
)
CURATE = Part(
    "curate", "docs", _curate_prepare, _curate_units, _curate_outputs,
    warm_units=("curate_corpus",),
)
GRAPH = Part(
    "graph", "lineitems", _graph_prepare, _graph_units, _graph_outputs,
    warm_units=("g1_pagerank_suppliers", "g7_coreness"),
)

WORKLOADS = {
    "nightly": Workload("nightly", (TRANSIT, CURATE)),
    "graph_fixpoint": Workload("graph_fixpoint", (GRAPH,)),
}


def checksum(spark, path: str, fmt: str) -> tuple[int, int]:
    """(rows, XOR checksum) of one written output, every column read
    back as a string. The CSV audit timestamps (create_time /
    update_time) are wall-clock stamps and are left out."""
    from pyspark.sql import functions as F

    from ad_data_pipelines_spark.operators.audit import table_checksum

    if fmt == "csv":
        # every column as a string: take the names from the header line
        # (saves the header-reading job of schema discovery)
        first = sorted(n for n in os.listdir(path) if n.startswith("part-"))[0]
        with open(os.path.join(path, first)) as f:
            names = f.readline().rstrip("\n").split(",")
        schema = ", ".join(f"`{n}` string" for n in names)
        df = spark.read.option("header", True).schema(schema).csv(path)
    else:
        df = spark.read.parquet(path)
    cols = [c for c in df.columns if c not in ("create_time", "update_time")]
    df = df.select([F.col(c).cast("string").alias(c) for c in cols])
    row = table_checksum(df, cols).first()
    return int(row["n_rows"]), int(row["checksum"] or 0)


def legs_counted(spark, out: str) -> int:
    """Legs the transit outputs account for: every leg is one
    passenger trip of ads_route_trips."""
    from pyspark.sql import functions as F

    df = spark.read.option("header", True).csv(f"{out}/ads_route_trips")
    return int(df.agg(F.sum(F.col("passenger_trips").cast("long"))).first()[0] or 0)


def dir_stats(path: str) -> tuple[int, int]:
    """(data files, bytes) under an output directory."""
    files = size = 0
    for root, _, names in os.walk(path):
        for n in names:
            if n.startswith("part-"):
                files += 1
                size += os.path.getsize(os.path.join(root, n))
    return files, size
