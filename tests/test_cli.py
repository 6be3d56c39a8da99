from __future__ import annotations

import json
import math
import os

from pargraph_spark.operators.extract_links import extract_links
from pargraph_spark.operators.edges import build_edges
from pargraph_spark.plans.linkgraph import build_linkgraph, run_all
from pargraph_spark.sources.pages import latest_pages
from pargraph_spark.synth import pages_df_local

from .oracles import pagerank_oracle

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_linkgraph_pipeline_end_to_end(spark, tmp_path):
    pages = pages_df_local(spark, 200)
    g = build_linkgraph(spark, pages, num_partitions=4)
    assert g.edges.count() > 0
    # pipeline-built graph equals operator-built graph
    direct = build_edges(extract_links(latest_pages(pages)))
    assert g.edges.exceptAll(direct).count() == 0
    assert direct.exceptAll(g.edges).count() == 0

    out = run_all(spark, g, tol=1e-8, num_partitions=4)
    ranks = {r["id"]: r["rank"] for r in out["pagerank"].ranks.collect()}
    edges = [(r["src"], r["dst"]) for r in g.edges.collect()]
    verts = [r["id"] for r in g.vertices.collect()]
    oracle = pagerank_oracle(edges, verts, tol=1e-10)
    for v in verts:
        assert math.isclose(ranks[v], oracle[v], abs_tol=1e-6)
    assert out["components"].converged
    assert out["labels"].converged
    assert out["triangles"].total >= 0


def test_jobspec_roundtrip(tmp_path):
    from pargraph_spark.plans.jobspec import JobSpec

    spec = JobSpec(job="pagerank", operator="linkgraph.pagerank",
                   params={"damping": 0.85, "tol": 1e-9},
                   inputs={"pages": "/data/pages"}, outputs={"dir": "/out"})
    p = str(tmp_path / "jobspec.json")
    spec.save(p)
    back = JobSpec.load(p)
    assert back == spec
    assert back.to_json() == spec.to_json()  # byte-stable (sorted keys)


def test_plan_dot_and_json(spark):
    from pargraph_spark.plans.jobspec import plan_dot, plan_json

    from pyspark.sql import functions as F

    df = spark.range(100).groupBy((F.col("id") % 5).alias("k")).count()
    tree = plan_json(df)
    assert tree["node"]  # root exists
    def count(t):
        return 1 + sum(count(c) for c in t["children"])
    n = count(tree)
    assert n >= 3  # scan + partial agg + exchange(+final agg)

    dot = plan_dot(df)
    assert dot.startswith("digraph plan {") and dot.endswith("}")
    assert dot.count(" -> ") == n - 1  # a tree: |E| = |V| - 1
    assert "HashAggregate" in dot and "Range" in dot


def _run_job(spark, capsys, job, out, *extra):
    """Run one CLI job in this process, on the shared session (the cli
    stops only a session it started); returns its printed summary."""
    from pargraph_spark.cli import main

    capsys.readouterr()
    assert main([job, "--synth-pages", "300", "--output", out,
                 "--cores", "2", "--partitions", "4", *extra]) == 0
    summary = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert job in summary, summary
    return summary


def test_cli_restores_the_callers_conf(spark, capsys, tmp_path):
    # main's get_spark sets --partitions (and the rest of its conf) on
    # the caller's session; main must leave that session as it found it
    before = spark.conf.getAll
    assert before["spark.sql.shuffle.partitions"] != "4"
    _run_job(spark, capsys, "stats", str(tmp_path / "stats"))
    assert spark.conf.getAll == before


def test_cli_kcore_and_hosts_jobs(spark, capsys, tmp_path):
    for job, extra in (("kcore", ["--k", "2"]), ("hosts", [])):
        _run_job(spark, capsys, job, str(tmp_path / job), *extra)
    # artifacts exist
    assert os.path.isdir(str(tmp_path / "kcore" / "kcore.parquet"))
    assert os.path.isdir(str(tmp_path / "hosts" / "host_ranks.parquet"))


def test_cli_corenums_reach_stats_jobs(spark, capsys, tmp_path):
    for job, extra in (("corenums", []), ("reach", ["--hops", "2", "--k", "8"]),
                       ("stats", [])):
        _run_job(spark, capsys, job, str(tmp_path / job), *extra)
    assert os.path.isdir(str(tmp_path / "corenums" / "core_numbers.parquet"))
    assert os.path.isdir(str(tmp_path / "reach" / "reach.parquet"))
    assert os.path.isdir(str(tmp_path / "stats" / "knn_profile.parquet"))


def test_cli_truss_jobs(spark, capsys, tmp_path):
    for job, extra in (("truss", ["--k", "3"]), ("trussnums", [])):
        _run_job(spark, capsys, job, str(tmp_path / job), *extra)
    assert os.path.isdir(str(tmp_path / "truss" / "ktruss.parquet"))
    assert os.path.isdir(str(tmp_path / "trussnums" / "truss_numbers.parquet"))


def test_cli_scc_bowtie_katz_communities_jobs(spark, capsys, tmp_path):
    for job in ("scc", "bowtie", "katz", "communities"):
        _run_job(spark, capsys, job, str(tmp_path / job))
    assert os.path.isdir(str(tmp_path / "scc" / "scc.parquet"))
    assert os.path.isdir(str(tmp_path / "bowtie" / "bowtie.parquet"))
    assert os.path.isdir(str(tmp_path / "katz" / "katz.parquet"))
    assert os.path.isdir(str(tmp_path / "communities" / "labels.parquet"))


def test_cli_betweenness_spammass_densest_jobs(spark, capsys, tmp_path):
    for job, extra in (("betweenness", ["--k", "5", "--hops", "2"]),
                       ("spammass", ["--k", "7", "--hops", "1"]),
                       ("densest", [])):
        _run_job(spark, capsys, job, str(tmp_path / job), *extra)
    assert os.path.isdir(str(tmp_path / "betweenness" / "betweenness.parquet"))
    assert os.path.isdir(str(tmp_path / "spammass" / "spam_mass.parquet"))
    assert os.path.isdir(str(tmp_path / "densest" / "densest_vertices.parquet"))


def test_cli_temporalreach_job(spark, capsys, tmp_path):
    out = str(tmp_path / "tr")
    summary = _run_job(spark, capsys, "temporalreach", out, "--hops", "3")
    assert summary["temporalreach"]["reached"] > 0, summary
    assert os.path.isdir(os.path.join(out, "temporal_reach.parquet"))


def test_cli_wl_localcluster_textrank_effdiam_jobs(spark, capsys, tmp_path):
    for job, extra in (
        ("wlroles", ["--hops", "3"]),
        ("localcluster", ["--k", "2"]),
        ("textrank", ["--k", "5", "--hops", "4"]),
        ("effdiam", ["--hops", "3", "--k", "8"]),
    ):
        summary = _run_job(spark, capsys, job, str(tmp_path / job), *extra)
        if job == "textrank":
            # the pages contract leaves raw `text` NULL — the job must
            # run over graph.extracted and actually find keywords
            assert len(summary["textrank"]["terms"]) == 5, summary
    assert os.path.isdir(str(tmp_path / "wlroles" / "wl_colors.parquet"))
    assert os.path.isdir(
        str(tmp_path / "localcluster" / "local_cluster.parquet"))
    assert os.path.isdir(str(tmp_path / "textrank" / "keywords.parquet"))


def test_cli_curate_job_funnel(spark, tmp_path):
    # the spark-submit smoke test: the one job run as `python -m` in its
    # own JVM, with --cores
    import datetime
    import subprocess
    import sys

    t = datetime.datetime(2026, 3, 1)

    def page(url, body):
        return (url, t, f"<html><body>{body}</body></html>".encode(),
                None, "en")

    # genuinely varied token streams (no repeated 2-grams — the Gopher
    # filter is sharp enough to catch templated "unique words alpha i")
    body_a = "<p>" + " ".join(f"w{i} m{i * 7} z{i * 13}" for i in range(40)) + "</p>"
    body_b = "<p>" + " ".join(f"q{i} r{i * 11} s{i * 17}" for i in range(40)) + "</p>"
    rows = [
        page("a.com/original", body_a),
        page("a.com/mirror", body_a),  # exact dup of another URL
        page("a.com/other", body_b),
        page("a.com/spam", "<p>" + "buy now " * 80 + "</p>"),  # repetition
    ]
    src = str(tmp_path / "pages_in")
    spark.createDataFrame(
        rows,
        "url string, warc_ts timestamp, html binary, text string, lang string",
    ).write.mode("overwrite").parquet(src)

    out = str(tmp_path / "curate")
    proc = subprocess.run(
        [sys.executable, "-m", "pargraph_spark.cli", "curate",
         "--pages", src, "--output", out, "--cores", "2",
         "--partitions", "4"],
        capture_output=True, text=True, cwd=REPO, timeout=420,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    summary = json.loads(proc.stdout.strip().splitlines()[-1])["curate"]
    assert summary["pages_in"] == 4
    assert summary["after_exact_dedup"] == 3  # mirror dropped
    # spam page dropped by the repetition filter
    assert summary["after_near_dedup_quality_repetition"] == 2
    assert summary["tokens_out"] > 0
    assert os.path.isdir(os.path.join(out, "curated.parquet"))
    kept = {
        r["url"]
        for r in spark.read.parquet(os.path.join(out, "curated.parquet")).collect()
    }
    assert kept == {"a.com/original", "a.com/other"}
