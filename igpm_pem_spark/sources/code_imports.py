"""North-star ingest: source-file content → import link graph.

From the Iceberg-shaped ``repo_files(repo, path, commit, lang, content)``
table this derives the edge table the engine's kernels run on:

    file_ids(repo, path, id)             id = xxhash64(repo, path)
    edges(src, dst, repo, ts)            one row per import statement

Design (per BASELINE.json ``input_hint`` + SURVEY.md §2.9):
* import extraction defaults to PURE JVM regexp (``regexp_extract_all``
  inside whole-stage codegen — zero Python, zero Arrow transfer); the
  Arrow-vectorized ``mapInPandas`` variant (pandas C-regex ``extractall``)
  remains as ``engine="arrow"`` and is the template for parsers that
  genuinely need Python — both produce identical rows (tests pin it);
* ``sha2(content, 256)`` is computed JVM-side with the built-in and is
  checked per row against ``hashlib.sha256`` at generation time — the
  content-invariance gate (nothing on the ingest path may mutate content);
* module → file resolution and id hashing are Catalyst expressions
  (split/concat/xxhash64), so predicate pushdown and codegen apply;
* only python-lang rows are parsed (filter pushed to the parquet scan);
* dst ids are semi-joined against file_ids so imports of nonexistent
  modules don't create phantom vertices.

The reference has no code parsing (its graphs arrive as JSON/edge lists);
this operator is the input_hint's addition, replacing loaders S1-S3 as the
primary source while those remain available in sources/.
"""

from __future__ import annotations

import re
from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, functions as F

# one regex, two alternatives: `import a.b.c` / `from a.b import c`
_IMPORT_RE = re.compile(
    r"(?m)^(?:import[ \t]+([\w.]+)|from[ \t]+([\w.]+)[ \t]+import[ \t]+(\w+))[ \t]*$"
)
# the same two alternatives as separate JVM-regex passes (Java and Python
# regex agree on this ASCII subset; tests pin row equality of both engines)
_RE_PLAIN = r"(?m)^import[ \t]+([\w.]+)[ \t]*$"
_RE_FROM_FULL = r"(?m)^from[ \t]+[\w.]+[ \t]+import[ \t]+\w+[ \t]*$"

PARSED_SCHEMA = "repo STRING, path STRING, module STRING"


def parse_import_statements(repo_files: DataFrame, engine: str = "jvm") -> DataFrame:
    """(repo, path, module) — one row per import statement in python files.

    ``engine="jvm"`` (default): two ``regexp_extract_all`` passes + a
    ``transform`` lambda, all inside whole-stage codegen — content bytes
    never cross into Python (measured ~matching the Arrow path at small
    scale and strictly cheaper at 100 TB: no serialization at all).
    ``engine="arrow"``: vectorized pandas ``str.extractall`` over Arrow
    batches — the pattern to copy for parsers that genuinely need Python.
    """
    base = repo_files.where(F.col("lang") == "python").select(
        "repo", "path", "content"
    )
    if engine == "jvm":
        plain = F.regexp_extract_all("content", F.lit(_RE_PLAIN), 1)
        from_full = F.regexp_extract_all("content", F.lit(_RE_FROM_FULL), 0)
        from_mods = F.transform(
            from_full,
            lambda s: F.concat(
                F.regexp_extract(s, r"from[ \t]+([\w.]+)", 1),
                F.lit("."),
                F.regexp_extract(s, r"import[ \t]+(\w+)", 1),
            ),
        )
        return base.select(
            "repo",
            "path",
            F.explode(F.concat(plain, from_mods)).alias("module"),
        )

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            m = pdf["content"].str.extractall(_IMPORT_RE)
            if m.empty:
                yield pd.DataFrame(
                    {"repo": pd.Series(dtype=str), "path": pd.Series(dtype=str),
                     "module": pd.Series(dtype=str)}
                )
                continue
            module = m[0].fillna(m[1] + "." + m[2])
            idx = m.index.get_level_values(0)
            yield pd.DataFrame(
                {
                    "repo": pdf["repo"].to_numpy()[idx],
                    "path": pdf["path"].to_numpy()[idx],
                    "module": module.to_numpy(),
                }
            )

    return base.mapInPandas(extract, PARSED_SCHEMA)


def file_ids(repo_files: DataFrame) -> DataFrame:
    """(repo, path, id): dense-enough 64-bit ids via xxhash64 — no global
    sort/window, so id assignment is embarrassingly parallel at 1e12 files.
    Collision probability at 1e12 rows ~ 3e-8 per pair-universe; tests
    assert uniqueness at fixture scale."""
    return (
        repo_files.select("repo", "path")
        .distinct()
        .withColumn("id", F.xxhash64("repo", "path"))
    )


def import_edges(repo_files: DataFrame, drop_dangling_targets: bool = True) -> DataFrame:
    """edges(src BIGINT, dst BIGINT, repo STRING) from import statements.

    Module resolution 'repoXXX.pkgP.modM' → (repoXXX, pkgP/modM.py) is a
    pure Catalyst expression; ids are recomputed with xxhash64 rather than
    joined, so the only join is the optional existence semi-join.
    """
    parsed = parse_import_statements(repo_files)
    parts = F.split(F.col("module"), r"\.")
    edges = parsed.select(
        F.xxhash64("repo", "path").alias("src"),
        F.xxhash64(
            parts.getItem(0),
            F.concat(parts.getItem(1), F.lit("/"), parts.getItem(2), F.lit(".py")),
        ).alias("dst"),
        F.col("repo"),
    )
    if drop_dangling_targets:
        ids = file_ids(repo_files).select(F.col("id").alias("dst"))
        edges = edges.join(ids, "dst", "left_semi")
    return edges.select("src", "dst", "repo")


def sha_manifest(repo_files: DataFrame) -> DataFrame:
    """(repo, path, commit, sha) with sha computed JVM-side — the per-row
    content-invariance manifest (input_hint: 'content sha256 equality')."""
    return repo_files.select(
        "repo", "path", "commit", F.sha2(F.col("content"), 256).alias("sha")
    )
