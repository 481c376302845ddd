"""The Spark-side array folds, spelled once: the interpreted
``aggregate``/``zip_with`` folds and their unrolled, codegen-friendly
twins.

Interpreted folds (``fold_norm2``, ``fold_dot``, ``fold_l2``,
``fold_cos``, plus ``fold_slice`` for PQ subvectors) are the one Spark
spelling of the embedding arithmetic every vector operator uses: a left
fold from ``CAST(0 AS DOUBLE)`` with one IEEE double add/multiply per
element in array order, so the DuckDB oracles' ``list_aggregate(...,
'sum')`` sums the same doubles in the same order and scores match
bit-for-bit before canon-rounding.

They stay INTERPRETED deliberately for 64-dim embeddings. Spark's
higher-order functions are CodegenFallback expressions (every element
pays the interpreted expression path), but the unrolled 64-term twins
measured ~1.7-2.7x SLOWER in same-window A/B on every 64-dim consumer
(dim_truncation_recall 0.67 -> 1.36 s, ivf_nprobe_recall_curve
0.50 -> 0.84 s, semdedup's pair dot 1.28 -> 2.66 s, ...): the generated
trees fall out of JIT-compilable method sizes — see OPTIMIZATION_r12.md
"unroll boundary".

Unrolled twins (``unrolled_sum``, ``unrolled_norm2``,
``unrolled_l2_idx``) emit the SAME arithmetic as the lambda folds —
a left-associated chain starting from ``CAST(0 AS DOUBLE)``, one IEEE
double add/multiply per element in the identical order — so results are
bit-for-bit identical while executing in WholeStageCodegen (guide §4.1 —
prefer built-ins/codegen over interpreted paths). The leading ``0 +`` is
kept deliberately: ``aggregate`` starts its fold at the zero
accumulator, and dropping it would flip the sign of an
(all -0.0)-product corner case.

Unroll only for FIXED, known dims, and only SMALL ones: the unrolled
expression is the loop, so the dim must be a compile-time constant, and
the measured boundary is ~16 terms — the 8-dim PQ subspace L2 and the
16-term DFT sums win, while 64-dim embedding folds lose (above).
unrolled_norm2's default dim=64 survives only for jl_projection_stats,
where it measured neutral-to-positive inside a single scan-side
projection.
"""

from __future__ import annotations

from typing import Callable


def fold_norm2(e: str) -> str:
    """Squared L2 norm of array ``e`` as an interpreted left fold."""
    return (f"aggregate({e}, CAST(0 AS DOUBLE), (acc, x) -> "
            "acc + CAST(x AS DOUBLE) * CAST(x AS DOUBLE))")


def fold_dot(a: str, b: str) -> str:
    """Dot product of arrays ``a`` and ``b``: element products
    ``a[i] * b[i]`` (in that operand order) summed left to right."""
    return (f"aggregate(zip_with({a}, {b}, (x, y) -> "
            "CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), "
            "CAST(0 AS DOUBLE), (acc, x) -> acc + x)")


def fold_l2(a: str, b: str) -> str:
    """Squared L2 distance of arrays ``a`` and ``b``: squared
    differences ``(a[i] - b[i]) * (a[i] - b[i])`` summed left to right."""
    return (f"aggregate(zip_with({a}, {b}, (x, y) -> "
            "(CAST(x AS DOUBLE) - CAST(y AS DOUBLE)) * "
            "(CAST(x AS DOUBLE) - CAST(y AS DOUBLE))), "
            "CAST(0 AS DOUBLE), (acc, x) -> acc + x)")


def fold_cos(a: str, b: str, norm2_l: str, norm2_r: str) -> str:
    """Cosine ``dot(a, b) / sqrt(norm2_l * norm2_r)``. The two squared
    norms are passed in the caller's operand order — usually a
    precomputed query norm (``q.qnorm2``) and a ``fold_norm2`` — so the
    product under the root is the one the oracle computes."""
    return f"{fold_dot(a, b)} / sqrt({norm2_l} * {norm2_r})"


def fold_slice(e: str, s: str, dim: int) -> str:
    """Subvector ``s`` (0-based) of width ``dim`` of array ``e``."""
    return f"slice({e}, 1 + ({s}) * {dim}, {dim})"


def unrolled_sum(term: Callable[[int], str], dim: int, start: int = 1) -> str:
    """Bit-exact twin of
    aggregate(sequence(start, start+dim-1), CAST(0 AS DOUBLE),
              (acc, i) -> acc + term(i)):
    the same left-associated IEEE addition chain from the zero
    accumulator, with the loop index inlined as a literal."""
    terms = " + ".join(term(i) for i in range(start, start + dim))
    return f"(CAST(0 AS DOUBLE) + {terms})"


def unrolled_norm2(e: str, dim: int = 64) -> str:
    """Bit-exact twin of fold_norm2(e) for a fixed ``dim``."""
    terms = " + ".join(
        f"CAST(element_at({e}, {i}) AS DOUBLE)"
        f" * CAST(element_at({e}, {i}) AS DOUBLE)"
        for i in range(1, dim + 1)
    )
    return f"(CAST(0 AS DOUBLE) + {terms})"


def unrolled_l2_idx(vec: str, base: str, cemb: str, dim: int) -> str:
    """Bit-exact twin of fold_l2(fold_slice(vec, s, dim), cemb) with
    ``base`` = ``(s) * dim``, the subvector indexed DIRECTLY off the full
    vector (no slice allocation): element i of the slice is
    element_at(vec, base + i)."""
    terms = " + ".join(
        f"(CAST(element_at({vec}, {base} + {i}) AS DOUBLE)"
        f" - CAST(element_at({cemb}, {i}) AS DOUBLE))"
        f" * (CAST(element_at({vec}, {base} + {i}) AS DOUBLE)"
        f" - CAST(element_at({cemb}, {i}) AS DOUBLE))"
        for i in range(1, dim + 1)
    )
    return f"(CAST(0 AS DOUBLE) + {terms})"
