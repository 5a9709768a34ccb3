"""Property tests for the verification infrastructure itself: the shared
canon/hash (hive_ddl_extract_tool_spark/verify.py) and the corpus-inflation
invariants that every at-scale gate (tools/scale.py) leans on.

A defect HERE silently corrupts the evidence, not the engine -- which is
exactly why it gets the hypothesis treatment rather than a spot check."""
from __future__ import annotations

import os
import re
import sys

from hypothesis import given, settings
from hypothesis import strategies as st

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tools.scale import SUFFIX, WORD_RUN, rotation_slices
from hive_ddl_extract_tool_spark.verify import canon, hash_rows

# the scalar universe the driver's comparator actually sees
_CELL = st.one_of(
    st.none(),
    st.booleans(),
    st.integers(min_value=-(2**63), max_value=2**63 - 1),
    st.floats(allow_infinity=True, allow_nan=True, width=64),
    st.text(max_size=12),
)


@settings(max_examples=200, deadline=None)
@given(
    st.lists(st.tuples(_CELL, _CELL, _CELL), max_size=8),
    st.permutations([0, 1, 2]),
    st.randoms(use_true_random=False),
)
def test_hash_rows_invariant_to_row_and_column_order(rows, colperm, rng):
    """The driver's compare is order-insensitive in BOTH axes: shuffling
    rows or renumbering columns (with cells permuted consistently) must
    not change the hash."""
    cols = ["a", "b", "c"]
    h0 = hash_rows(cols, rows)

    shuffled = list(rows)
    rng.shuffle(shuffled)
    assert hash_rows(cols, shuffled) == h0

    pcols = [cols[i] for i in colperm]
    prows = [tuple(r[i] for i in colperm) for r in rows]
    assert hash_rows(pcols, prows) == h0


@settings(max_examples=200, deadline=None)
@given(st.lists(st.tuples(_CELL), min_size=1, max_size=6), st.integers(0, 5))
def test_hash_rows_detects_any_single_cell_type_fold(rows, idx):
    """Folding an int cell to its float twin (the round-4 HUGEINT class)
    must always change the hash."""
    idx %= len(rows)
    v = rows[idx][0]
    if not isinstance(v, int) or isinstance(v, bool):
        return
    folded = list(rows)
    folded[idx] = (float(v),)
    if float(v) != v:  # 2**63-adjacent ints lose precision; canon differs anyway
        return
    assert hash_rows(["a"], folded) != hash_rows(["a"], rows)


@settings(max_examples=100, deadline=None)
@given(_CELL)
def test_canon_is_deterministic_and_typed(v):
    assert canon(v) == canon(v)
    if v is not None:
        # the type tag is the whole point: two values of different types
        # never share a canon unless both render the tag differently
        assert canon(v).split(":", 1)[0] in (
            "bool", "int", "float", "str", "ts", type(v).__name__
        )


# --------------------------------------------------------------------------
# inflation invariants (tools/scale.inflate's documented contract)
# --------------------------------------------------------------------------

_WORDS = st.lists(
    st.text(alphabet="abcdefghijklmnopqrstuvwxyz0123456789", min_size=1, max_size=8),
    min_size=1,
    max_size=12,
)


@settings(max_examples=200, deadline=None)
@given(_WORDS, st.integers(1, 8), st.integers(1, 8))
def test_inflation_suffix_keeps_copies_token_disjoint(words, j1, j2):
    """Copy j suffixes every [a-z0-9]+ run with x{j}; any two DISTINCT
    copies must share zero tokens, whatever the source text -- this is the
    disjointness that keeps true near-dup structure exactly K-fold."""
    if j1 == j2:
        return
    text = " ".join(words)

    def inflate_text(j: int) -> set[str]:
        return set(re.sub(WORD_RUN, r"\1" + SUFFIX.format(j), text).split())

    assert not (inflate_text(j1) & inflate_text(j2))


@settings(max_examples=100, deadline=None)
@given(
    st.lists(st.floats(-10, 10, width=32), min_size=4, max_size=16),
    st.integers(1, 15),
)
def test_inflation_rotation_preserves_norm_and_within_copy_dots(vec, j):
    """Embedding copy j rotates by j positions: norms (and so within-copy
    cosine structure) are preserved EXACTLY while j stays under dim -- the
    hard guarantee the measured curves lean on. (Cross-copy DISTINCTNESS is
    statistical, not absolute: hypothesis found that a PERIODIC vector
    rotated by its period is bit-identical -- e.g. [a,b,a,b] at j=2 -- so
    it is not assertable universally; real float embeddings are aperiodic
    almost surely, and exact cross-copy dups would only inflate, never
    deflate, the measured candidate counts.)"""
    def rotate(v: list[float]) -> list[float]:
        return [x for s, n in rotation_slices(j, len(v)) for x in v[s - 1:s - 1 + n]]

    j %= len(vec)
    if j == 0:
        return
    rot = rotate(vec)
    assert rot == vec[j:] + vec[:j]  # the slices are a left rotation by j
    assert sorted(rot) == sorted(vec)  # permutation => identical norm
    # within-copy dot products: rotating BOTH vectors of a pair by j leaves
    # the aligned product MULTISET unchanged (the sum is then equal up to
    # accumulation order -- and cross-ENGINE exactness is unaffected either
    # way, because both engines see the same rotated arrays)
    vec2 = vec[1:] + vec[:1]
    rot2 = rotate(vec2)
    assert sorted(a * b for a, b in zip(rot, rot2)) == sorted(
        a * b for a, b in zip(vec, vec2)
    )
