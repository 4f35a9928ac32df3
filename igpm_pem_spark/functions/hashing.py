"""Engine-portable arithmetic hashing constants.

Dedup/fingerprint operators must be verifiable against an independent SQL
engine (the driver's DuckDB oracle), so every hash on the data path that
feeds a *checked* result is plain 64-bit-safe integer arithmetic over
dense token ids — identical in Spark SQL and ANSI SQL — rather than an
engine-specific hash builtin. (xxhash64 is still used where only Spark
consumes the value, e.g. vertex ids.)

MinHash permutation family: h_i(x) = (A_i * x + B_i) mod P, P prime.
All intermediates stay < 2^63: x < P ≈ 1e9, A_i < 2^7 → A_i*x + B_i < 2^40.
"""

from __future__ import annotations

P = 1_000_000_007
NUM_PERM = 16
ROWS_PER_BAND = 2
NUM_BANDS = NUM_PERM // ROWS_PER_BAND

SIMHASH_BITS = 16

FP_A = 1_315_423_911  # fingerprint token multiplier
FP_B = 2_654_435_761  # fingerprint position multiplier

# ANN hyperplane-LSH family: L tables × n_planes sign bits. Plane weights
# are pure integer arithmetic (portable to any SQL engine):
#   w(t, p, d) = ((KNUTH * (a*(d+1) + b)) % W_MOD) / W_MOD - 0.5
# with (a, b) = plane_coeffs_ann(t, p) and d the 0-based dimension.
# Max intermediate: KNUTH * (a*(d+1)+b) ≈ 2.7e9 * 2e5 ≈ 5e14 < 2^63.
# Defaults tuned on the synthetic embeddings (near-random directions, the
# hardest case for hyperplane LSH): 16 tables × 4 bits gives recall@3 =
# 0.95 vs exact cosine at sf0.001 (gated in tests). Fewer bits → higher
# recall and bigger buckets; production corpora with real near-dup
# structure run more bits per table (collision prob per plane is
# 1 - θ/π, so tight clusters survive long signatures).
ANN_PLANES = 4
ANN_TABLES = 16
ANN_W_MOD = 1_000_003
ANN_KNUTH = 2_654_435_761
# adaptive signature length (hyperplane_buckets with n_planes=None):
# bucket count 2^p targets ~ANN_BUCKET_TARGET vectors per bucket, so the
# candidate volume stays linear-ish as the corpus grows instead of the
# fixed 16-bucket layout degenerating to near-quadratic (measured: 119.6k
# vectors / 16 buckets → ~572M candidate pairs, 568 s; 1024 buckets → ~9M)
ANN_BUCKET_TARGET = 150
ANN_MAX_PLANES = 16
# degenerate-bucket cap for the ANN candidate joins (the embedding
# analogue of dedup.lsh_candidate_pairs' max_bucket=50): the adaptive
# plane count targets ~ANN_BUCKET_TARGET vectors/bucket, so a bucket 10×
# that is degenerate by construction — a duplicate-heavy / low-entropy
# corpus collapsing many vectors into one signature, which would turn the
# bucket self-join quadratic. Rows in such buckets are dropped (and
# counted — no silent caps); true duplicates still pair up through the
# other independent tables and the near-dup/dedup paths upstream.
ANN_MAX_BUCKET = 10 * ANN_BUCKET_TARGET
# fixed stride for plane-weight derivation — NOT ANN_PLANES: with the
# stride tied to the default signature length, longer adaptive signatures
# would reuse k values across tables (table t plane p+s == table t+1
# plane p), correlating the "independent" tables
_ANN_PLANE_STRIDE = 64


def plane_coeffs_ann(table: int, plane: int) -> tuple[int, int]:
    k = table * _ANN_PLANE_STRIDE + plane
    return 2 * k + 3, 7919 * (k + 1)


def ann_weight_sql(table: int, plane: int, d: str = "d") -> str:
    """SQL text of w(table, plane, d) for a 0-based dim index expr ``d``."""
    a, b = plane_coeffs_ann(table, plane)
    return (
        f"((({ANN_KNUTH} * ({a} * ({d} + 1) + {b})) % {ANN_W_MOD})"
        f" / {ANN_W_MOD}.0 - 0.5)"
    )


def token_id_sql(tok: str = "token") -> str:
    """DuckDB SQL text of the portable string-hash token id: first 60 bits
    of md5(token) mod P. md5 hex output is identical in Spark and DuckDB,
    so the two engines produce the same tid for every string (incl. any
    unicode) — no vocabulary table, no global sort, no join."""
    return f"(('0x' || substr(md5({tok}), 1, 15))::BIGINT % {P})"


def perm_coeffs(i: int) -> tuple[int, int]:
    """Deterministic coefficients of the i-th minhash permutation."""
    return 2 * i + 1, 7919 * (i + 1)


def minhash_expr_sql(i: int, x: str = "tid") -> str:
    """SQL text of h_i(x) — same string used by the Spark plan and the
    DuckDB oracle so the two engines cannot diverge."""
    a, b = perm_coeffs(i)
    return f"(({a} * {x} + {b}) % {P})"
