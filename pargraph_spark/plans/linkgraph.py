"""End-to-end link-graph pipeline: pages → edges/vertices → algorithms.

The one-call composition of the operator stack (the engine's analogue of a
pargraph @graph-decorated composite, /root/reference/pargraph/graph/
decorators.py:106-214 — except composition here is plain Python over lazy
DataFrames, so Spark plans/schedules the whole thing).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

from pargraph_spark.operators.components import connected_components
from pargraph_spark.operators.edges import (
    assert_no_id_collisions,
    build_edges,
    build_vertices,
)
from pargraph_spark.operators.extract_links import extract_links
from pargraph_spark.operators.labelprop import label_propagation
from pargraph_spark.operators.pagerank import pagerank
from pargraph_spark.operators.triangles import triangle_count
from pargraph_spark.sources.pages import latest_pages, read_pages


@dataclass
class LinkGraph:
    vertices: DataFrame  # (id, url)
    edges: DataFrame     # (src, dst) distinct, partitioned by src
    extracted: DataFrame | None = None  # (url, text, links) — host rollup input


def build_linkgraph(
    spark: SparkSession,
    pages: DataFrame | str,
    num_partitions: int | None = None,
    check_collisions: bool = True,
    pages_format: str = "parquet",
) -> LinkGraph:
    if isinstance(pages, str):
        pages = read_pages(spark, pages, fmt=pages_format)
    P = int(num_partitions or spark.conf.get("spark.sql.shuffle.partitions"))
    # lazy persist: extraction (page dedupe + HTML parse) feeds THREE
    # consumers (edges, vertices, the exposed .extracted field) and
    # would otherwise re-run once per consumer
    extracted = extract_links(latest_pages(pages)).persist()
    edges = build_edges(extracted, num_partitions=P).persist()
    vertices = build_vertices(extracted).persist()
    if check_collisions:
        assert_no_id_collisions(vertices)
    return LinkGraph(vertices, edges, extracted)


def run_all(
    spark: SparkSession,
    graph: LinkGraph,
    damping: float = 0.85,
    tol: float = 1e-9,
    checkpoint_dir: str | None = None,
    num_partitions: int | None = None,
) -> dict:
    """Run the four algorithms; returns {name: DataFrame | result}."""
    ids = graph.vertices.select("id")
    pr = pagerank(spark, graph.edges, ids, damping=damping, tol=tol,
                  checkpoint_dir=checkpoint_dir,
                  num_partitions=num_partitions)
    cc = connected_components(spark, graph.edges, ids, num_partitions=num_partitions)
    lp = label_propagation(spark, graph.edges, ids, num_partitions=num_partitions)
    tc = triangle_count(spark, graph.edges)
    return {
        "pagerank": pr,
        "components": cc,
        "labels": lp,
        "triangles": tc,
    }
