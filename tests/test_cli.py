"""spark-submit CLI surface: each subcommand must run end-to-end against
the active session (getOrCreate under spark-submit picks up the cluster
topology; here it reuses the test session)."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from igpm_pem_spark.__main__ import main
from igpm_pem_spark.sources.fixtures import ba_graph


def _edges_parquet(spark, tmp_path, weighted=False):
    _, edges, _ = ba_graph(spark, 60, 3, seed=8)
    if weighted:
        edges = edges.withColumn(
            "wt", (F.pmod(F.xxhash64("src", "dst"), F.lit(5)) + 1).cast("double")
        )
    p = str(tmp_path / "edges.parquet")
    edges.write.mode("overwrite").parquet(p)
    return p


def test_cli_pagerank_weighted_seeded(spark, tmp_path):
    p = _edges_parquet(spark, tmp_path, weighted=True)
    out = str(tmp_path / "ranks.parquet")
    rc = main([
        "pagerank", "--edges", p, "--output", out,
        "--weight-col", "wt", "--seed", "0", "--seed", "1",
        "--alpha", "0.3", "--tol", "1e-8",
    ])
    assert rc == 0
    ranks = spark.read.parquet(out)
    assert ranks.count() == 60
    assert abs(ranks.agg(F.sum("rank")).first()[0] - 1.0) < 1e-6


def test_cli_components_and_triangles(spark, tmp_path, capsys):
    p = _edges_parquet(spark, tmp_path)
    out = str(tmp_path / "cc.parquet")
    assert main(["components", "--edges", p, "--output", out]) == 0
    assert spark.read.parquet(out).select("component").distinct().count() >= 1
    assert main(["triangles", "--edges", p]) == 0
    n = int(capsys.readouterr().out.strip().splitlines()[-1])
    assert n > 0


def test_cli_config_roundtrip(spark, tmp_path):
    import json

    from igpm_pem_spark.sources.fixtures import GRAPHS

    gd = GRAPHS["test1"]
    g = str(tmp_path / "g.json")
    with open(g, "w") as f:
        json.dump(
            {"directed": False, "graph": {}, "multigraph": False,
             "nodes": gd["nodes"], "links": gd["links"]},
            f,
        )
    ini = tmp_path / "q.ini"
    ini.write_text(
        "[G-Ray]\n"
        f"input_json = {g}\n"
        "query = --vertex a b c --edge x:a:b y:b:c z:c:a "
        "--vertexlabel a:cyan b:cyan c:cyan\n"
        "steps = 1\n"
    )
    out = str(tmp_path / "matches.parquet")
    assert main(["config", str(ini), "--output", out]) == 0
    assert spark.read.parquet(out).count() == 2  # test1 has 2 triangles


def test_cli_matching_mis_partition(spark, tmp_path, capsys):
    p = _edges_parquet(spark, tmp_path)
    outm = str(tmp_path / "matched.parquet")
    assert main(["matching", "--edges", p, "--output", outm, "--rounds", "12"]) == 0
    matched = spark.read.parquet(outm).collect()
    verts = [v for r in matched for v in (r.src, r.dst)]
    assert len(verts) == len(set(verts)) > 0

    outi = str(tmp_path / "mis.parquet")
    assert main(["mis", "--edges", p, "--output", outi, "--rounds", "12"]) == 0
    mis = {r.id for r in spark.read.parquet(outi).collect()}
    assert len(mis) > 0

    outp = str(tmp_path / "parts.parquet")
    assert main(["partition", "--edges", p, "--output", outp, "-k", "3"]) == 0
    parts = spark.read.parquet(outp)
    assert parts.count() == 60
    assert {r.part for r in parts.select("part").distinct().collect()} <= {0, 1, 2}


def test_cli_coreness_trussness(spark, tmp_path):
    p = _edges_parquet(spark, tmp_path)
    outc = str(tmp_path / "core")
    assert main(["coreness", "--edges", p, "--output", outc]) == 0
    core = spark.read.parquet(outc)
    assert set(core.columns) == {"id", "coreness"} and core.count() > 0
    outt = str(tmp_path / "truss")
    assert main(["trussness", "--edges", p, "--output", outt]) == 0
    truss = spark.read.parquet(outt)
    assert set(truss.columns) == {"src", "dst", "trussness"} and truss.count() > 0


def test_cli_onion_msf(spark, tmp_path):
    p = _edges_parquet(spark, tmp_path, weighted=True)
    outo = str(tmp_path / "onion")
    assert main(["onion", "--edges", p, "--output", outo]) == 0
    onion = spark.read.parquet(outo)
    assert set(onion.columns) == {"id", "layer", "onion_core"} and onion.count() == 60
    outm = str(tmp_path / "msf")
    assert main([
        "msf", "--edges", p, "--weight-col", "wt", "--output", outm,
        "--checkpoint-dir", str(tmp_path / "msf_ckpt"),
    ]) == 0
    forest = spark.read.parquet(outm)
    assert set(forest.columns) == {"a", "b", "w"}
    # one component (BA graph is connected): |forest| = V - 1
    assert forest.count() == 59
    # checkpoint left lineage + state behind
    assert os.path.isdir(str(tmp_path / "msf_ckpt" / "components" / "lineage"))
