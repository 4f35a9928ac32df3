"""spark-submit entry point — the north rule's launch path.

Run locally::

    python -m igpm_pem_spark pagerank --edges /data/edges.parquet \
        --output /data/ranks.parquet --checkpoint-dir /ckpt/pr

or on a cluster (the package zipped and shipped; master/executors come
from spark-submit, so the same command scales from local[*] to N
executors)::

    zip -r igpm_pem_spark.zip igpm_pem_spark
    spark-submit --py-files igpm_pem_spark.zip \
        --num-executors 64 igpm_pem_spark/__main__.py \
        pagerank --edges s3://bucket/edges --output s3://bucket/ranks

Subcommands mirror the engine surface: ``config`` (the reference's INI
batch entry, ``gray/query_call.py:415-438``), the iterative kernels
(``pagerank``, ``components``, ``labelprop``, ``kcore``), ``triangles``,
symmetry-breaking kernels (``matching``, ``mis``), ``partition``
(edge-cut-aware LPA assignment + measured cut), and ``ingest``
(repo-files → import edge table, the input_hint pipeline).
Edge inputs are parquet with (src, dst[, weight, ts]) columns.
"""

from __future__ import annotations

import argparse
import os
import sys

if __package__ in (None, ""):
    # spark-submit runs this file as a top-level script, so relative
    # imports have no parent package. The package itself arrives on
    # sys.path via --py-files (zip) on a cluster; for a bare
    # `python igpm_pem_spark/__main__.py` run, the repo checkout next to
    # this file provides it. All in-module imports are absolute.
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _spark(app: str):
    # under spark-submit the master/executor topology comes from the
    # submit command; getOrCreate respects it. Standalone `python -m`
    # falls back to local[*] with the engine's tuned defaults.
    from pyspark.sql import SparkSession

    if SparkSession.getActiveSession() is not None:
        return SparkSession.getActiveSession()
    return (
        SparkSession.builder.appName(app)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .getOrCreate()
    )


def _emit(df, output: str | None, n_show: int = 20) -> None:
    if output:
        df.write.mode("overwrite").parquet(output)
    else:
        df.show(n_show, truncate=False)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="igpm_pem_spark")
    sub = ap.add_subparsers(dest="cmd", required=True)

    pc = sub.add_parser("config", help="run an INI query config (S8)")
    pc.add_argument("path")
    pc.add_argument("--output")

    def edges_parser(name: str, help_: str):
        p = sub.add_parser(name, help=help_)
        p.add_argument("--edges", required=True, help="parquet with src,dst[,...]")
        return p

    def kernel_parser(name: str, help_: str):
        p = edges_parser(name, help_)
        p.add_argument("--output")
        p.add_argument("--num-partitions", type=int, default=None)
        return p

    pr = kernel_parser("pagerank", "(weighted/seeded) PageRank to convergence")
    pr.add_argument("--directed", action="store_true")
    pr.add_argument("--alpha", type=float, default=0.85)
    pr.add_argument("--tol", type=float, default=1e-6)
    pr.add_argument("--max-iter", type=int, default=200)
    pr.add_argument("--steps-per-commit", type=int, default=5)
    pr.add_argument("--weight-col")
    pr.add_argument("--seed", type=int, action="append", default=None,
                    help="personalization seed vertex (repeatable)")
    pr.add_argument("--checkpoint-dir")

    cc = kernel_parser("components", "hash-min connected components")
    cc.add_argument("--checkpoint-dir")

    lp = kernel_parser("labelprop", "deterministic synchronous LPA")
    lp.add_argument("--max-iter", type=int, default=10)

    kc = kernel_parser("kcore", "k-core decomposition")
    kc.add_argument("-k", type=int, required=True)

    cn = kernel_parser("coreness", "full core decomposition (h-index iteration)")
    cn.add_argument("--checkpoint-dir")

    tn = kernel_parser("trussness", "full truss decomposition (local h-index)")
    tn.add_argument("--checkpoint-dir")

    on = kernel_parser("onion", "onion decomposition (peel-layer index)")
    on.add_argument("--checkpoint-dir")

    mf = kernel_parser("msf", "Boruvka minimum spanning forest")
    mf.add_argument("--weight-col", default="w")
    mf.add_argument("--checkpoint-dir")

    edges_parser("triangles", "exact triangle count (adaptive plan)")

    mt = kernel_parser("matching", "handshake maximal matching")
    mt.add_argument("--rounds", type=int, default=8)

    ms = kernel_parser("mis", "Luby maximal independent set")
    ms.add_argument("--rounds", type=int, default=8)

    pt = kernel_parser("partition", "edge-cut-aware LPA partition assignment")
    pt.add_argument("-k", type=int, default=4)
    pt.add_argument("--lpa-iters", type=int, default=3)

    ing = sub.add_parser("ingest", help="repo files parquet -> import edges")
    ing.add_argument("--repo-files", required=True,
                     help="parquet with (repo, path, commit, lang, content)")
    ing.add_argument("--output")

    args = ap.parse_args(argv)
    spark = _spark(f"igpm-pem-{args.cmd}")

    if args.cmd == "config":
        from igpm_pem_spark.sources.config_source import run_query_config

        _emit(run_query_config(spark, args.path), args.output)
        return 0

    if args.cmd == "ingest":
        from igpm_pem_spark.sources.code_imports import import_edges

        rf = spark.read.parquet(args.repo_files)
        _emit(import_edges(rf), args.output)
        return 0

    edges = spark.read.parquet(args.edges)
    if args.cmd == "pagerank":
        from igpm_pem_spark.operators.pagerank import pagerank

        res = pagerank(
            spark, edges, directed=args.directed, alpha=args.alpha,
            tol=args.tol, max_iter=args.max_iter,
            steps_per_commit=args.steps_per_commit,
            num_partitions=args.num_partitions,
            checkpoint_dir=args.checkpoint_dir,
            weight_col=args.weight_col,
            personalization=args.seed,
        )
        _emit(res.ranks, args.output)
        print(f"supersteps={res.supersteps} converged={res.converged}",
              file=sys.stderr)
    elif args.cmd == "components":
        from igpm_pem_spark.operators.components import connected_components

        res = connected_components(
            spark, edges, num_partitions=args.num_partitions,
            checkpoint_dir=args.checkpoint_dir, steps_per_commit=4,
        )
        _emit(res.components, args.output)
    elif args.cmd == "labelprop":
        from igpm_pem_spark.operators.labelprop import label_propagation

        res = label_propagation(
            spark, edges, max_iter=args.max_iter,
            num_partitions=args.num_partitions, steps_per_commit=3,
        )
        _emit(res.labels, args.output)
    elif args.cmd == "kcore":
        from igpm_pem_spark.operators.kcore import k_core

        res = k_core(spark, edges, args.k, num_partitions=args.num_partitions)
        _emit(res.vertices, args.output)
    elif args.cmd == "coreness":
        from igpm_pem_spark.operators.kcore import coreness_hindex

        res = coreness_hindex(
            spark, edges, num_partitions=args.num_partitions,
            checkpoint_dir=args.checkpoint_dir,
        )
        _emit(res.coreness, args.output)
        print(f"rounds={res.rounds} converged={res.converged}", file=sys.stderr)
    elif args.cmd == "trussness":
        from igpm_pem_spark.operators.ktruss import trussness_hindex

        res = trussness_hindex(
            spark, edges, num_partitions=args.num_partitions,
            checkpoint_dir=args.checkpoint_dir,
        )
        _emit(res.trussness, args.output)
        print(f"rounds={res.rounds} converged={res.converged}", file=sys.stderr)
    elif args.cmd == "onion":
        from igpm_pem_spark.operators.kcore import onion_layers

        res = onion_layers(
            spark, edges, num_partitions=args.num_partitions,
            checkpoint_dir=args.checkpoint_dir,
        )
        _emit(res.layers, args.output)
        print(f"rounds={res.rounds} converged={res.converged}", file=sys.stderr)
    elif args.cmd == "msf":
        from igpm_pem_spark.operators.msf import minimum_spanning_forest

        res = minimum_spanning_forest(
            spark, edges, weight_col=args.weight_col,
            num_partitions=args.num_partitions,
            checkpoint_dir=args.checkpoint_dir,
        )
        _emit(res.forest, args.output)
        print(f"rounds={res.rounds} converged={res.converged}", file=sys.stderr)
    elif args.cmd == "triangles":
        from igpm_pem_spark.operators.triangles import triangle_count

        print(triangle_count(edges))
    elif args.cmd == "matching":
        from igpm_pem_spark.operators.matching import handshake_matching

        res = handshake_matching(
            spark, edges, rounds=args.rounds, num_partitions=args.num_partitions
        )
        _emit(res.matched, args.output)
        print(f"converged={res.converged}", file=sys.stderr)
    elif args.cmd == "mis":
        from igpm_pem_spark.operators.matching import luby_mis

        res = luby_mis(
            spark, edges, rounds=args.rounds, num_partitions=args.num_partitions
        )
        _emit(res.matched, args.output)
        print(f"converged={res.converged}", file=sys.stderr)
    elif args.cmd == "partition":
        from igpm_pem_spark.operators.partition import (
            edge_cut_summary, lpa_partitions)

        assign = lpa_partitions(
            spark, edges, k=args.k, lpa_iters=args.lpa_iters,
            num_partitions=args.num_partitions,
        )
        _emit(assign, args.output)
        edge_cut_summary(edges, assign, k=args.k).show(truncate=False)
    return 0


if __name__ == "__main__":
    sys.exit(main())
