"""Fuzzy best-match joins (J4/J5/F16 of SURVEY.md §2.3).

Reference semantics: find_relevant_table / find_closest_paragraph score every
candidate on the same (pdf, page) with a fuzzy ratio and keep the argmax
(ref: /root/reference/src/components/preprocessing/table_curator.py:169-191,
kpi_inference_curator.py:273-360).

Scale shape: equi-join on the blocking keys FIRST (candidate pruning — the
plan must contain no CartesianProduct), then score, then window top-1.  Two
scorers:

- ``jaccard_best_match_join`` — token-set Jaccard as a pure Column
  expression (JVM-side, oracle-checkable); a good stand-in for
  token_set_ratio whose exact value differences don't change the argmax in
  most corpora.
- ``fuzzy_best_match_join`` — fuzzywuzzy ``token_set_ratio`` in an
  Arrow-batched pandas UDF for exact reference scoring semantics.

Scorer backend note (r13): the reference pins ``python-Levenshtein``
explicitly (ref: /root/reference/Pipfile:23,27), so the semantics its
``fuzz.token_set_ratio`` actually executes are the **Indel-based** ratio
(``Levenshtein.ratio`` = 2·LCS/(|a|+|b|), substitution cost 2) — NOT the
stdlib-difflib Ratcliff/Obershelp fallback fuzzywuzzy only uses when the C
extension is missing.  The two backends genuinely diverge (difflib's
greedy longest-block recursion finds M ≤ LCS, and its autojunk mangles
strings ≥ 200 chars); measured on this repo's parity vocab they disagree
on ~19% of random token-string pairs, always with indel ≥ difflib.  The
engine therefore vendors the Indel backend as the default ``_ratio``
(bit-parallel LCS — public algorithm, Allison & Dix 1986 / Hyyrö 2004 —
no per-char Python loops), keeps ``_ratio_difflib`` as the documented
alternative backend, and parity-tests the vendored scorer against a naive
DP ground truth unconditionally (plus rapidfuzz when installed).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType

from ..cache import shared
from .relational import argmax_per_group, ensure_parallelism

# Both scorer implementations are module-level named functions so the
# parity test can compare them head-to-head whenever rapidfuzz is present
# (pyproject extra: ``aicoe-osc-demo-spark[fuzzy]``) — the fast path is
# never dead code that only a different container would exercise.
import re as _re
from difflib import SequenceMatcher
from functools import lru_cache

_non_word = _re.compile(r"(?u)\W")


@lru_cache(maxsize=16384)
def _full_process(s: str) -> str:
    """fuzzywuzzy utils.full_process: non-word chars -> space, lowercase,
    trim — applied by fuzz.token_set_ratio before tokenizing, so scores
    are case- and punctuation-insensitive.  Cached: in a best-match join
    every left text is processed once per candidate, so the regex over a
    multi-KB document would otherwise rerun |block| times."""
    return _non_word.sub(" ", s).lower().strip()


def _ratio_difflib(a: str, b: str) -> float:
    """token_set_ratio under fuzzywuzzy's NO-C-EXTENSION fallback backend
    (stdlib SequenceMatcher, Ratcliff/Obershelp + autojunk) — kept as the
    documented alternative backend and divergence baseline; the engine's
    default ``_ratio`` is ``_ratio_indel`` (what the reference actually
    runs — see module docstring).  Algorithm: full_process both sides, then
    compare the
    sorted token intersection against intersection+remainder strings and
    take the max.  Rounded to integer scores like fuzzywuzzy's intr
    (round commutes with max, so one final round is equivalent).

    The pairwise SequenceMatcher calls are laddered behind difflib's own
    ``real_quick_ratio``/``quick_ratio`` upper bounds: a pair whose bound
    cannot exceed the running max contributes nothing to the max, so
    skipping it is exact (ratio <= quick_ratio <= real_quick_ratio)."""
    a, b = _full_process(a), _full_process(b)
    if not a or not b:  # fuzzywuzzy's empty-string guard returns 0
        return 0.0
    sa, sb = set(a.split()), set(b.split())
    inter = " ".join(sorted(sa & sb))
    t1 = (inter + " " + " ".join(sorted(sa - sb))).strip()
    t2 = (inter + " " + " ".join(sorted(sb - sa))).strip()
    best = 0.0
    for x, y in ((inter, t1), (inter, t2), (t1, t2)):
        sm = SequenceMatcher(None, x, y)
        if sm.real_quick_ratio() <= best or sm.quick_ratio() <= best:
            continue
        r = sm.ratio()
        if r > best:
            best = r
    return float(round(100.0 * best))


@lru_cache(maxsize=16384)
def _token_set(s: str) -> frozenset:
    """Token set of an already-processed string, cached: in a best-match
    join one left text meets |block| candidates, so its split/frozenset
    would otherwise rerun per pair."""
    return frozenset(s.split())


def _lcs_len(a: str, b: str) -> int:
    """Longest-common-subsequence LENGTH via the bit-parallel algorithm of
    Allison & Dix (1986) as revisited by Hyyrö (2004) — public algorithm.
    One big-int row update per character of the longer string (Python
    big-ints act as the bit-vectors), no per-char inner loop: ~wordsize×
    faster than the O(|a|·|b|) DP and far faster than difflib's per-pair
    SequenceMatcher machinery on few-hundred-char strings."""
    if not a or not b:
        return 0
    if len(a) > len(b):
        a, b = b, a
    pm: dict = {}
    for i, c in enumerate(a):
        pm[c] = pm.get(c, 0) | (1 << i)
    full = (1 << len(a)) - 1
    row = full
    for c in b:
        m = pm.get(c)
        if m:
            u = row & m
            # u ⊆ row's low bits, so row - u never borrows; carry bits
            # above len(a) are garbage but never re-enter via u (pm masks)
            row = (row + u) | (row - u)
    return len(a) - (row & full).bit_count()


def _ratio_indel(a: str, b: str) -> float:
    """``fuzz.token_set_ratio`` under the reference's ACTUAL backend:
    fuzzywuzzy + python-Levenshtein (ref Pipfile:23 pins the C extension,
    so ``fuzz.ratio`` is ``Levenshtein.ratio`` = 2·LCS/(|a|+|b|), the
    normalized Indel similarity — the same semantics rapidfuzz ships).

    Exactness of the decomposition: ``inter`` (the sorted joined token
    intersection) is a PREFIX of both combined strings, and prepending a
    common prefix adds exactly its length to the LCS (standard DP lemma:
    a[0]==b[0] ⟹ LCS(a,b) = 1 + LCS(a[1:],b[1:])), so

        ratio(inter, tX)  =  2·L0/(L0+LX)          -- closed form, O(1)
        ratio(t1, t2)     =  2·LCS(t1,t2)/(L1+L2)  -- one bit-parallel pass

    and the pass is skipped entirely when its own upper bound
    2·min(L1,L2)/(L1+L2) cannot beat the prefix ratios.  Per-comparison
    integer rounding (fuzzywuzzy ``utils.intr``) commutes with max, so one
    final round is equivalent."""
    a, b = _full_process(a), _full_process(b)
    if not a or not b:  # fuzzywuzzy validate_string guard
        return 0.0
    sa, sb = _token_set(a), _token_set(b)
    inter = " ".join(sorted(sa & sb))
    t1 = (inter + " " + " ".join(sorted(sa - sb))).strip()
    t2 = (inter + " " + " ".join(sorted(sb - sa))).strip()
    l0, l1, l2 = len(inter), len(t1), len(t2)
    best = 2.0 * l0 / (l0 + (l1 if l1 < l2 else l2)) if l0 else 0.0
    if 2.0 * (l1 if l1 < l2 else l2) / (l1 + l2) > best:
        r = 2.0 * _lcs_len(t1, t2) / (l1 + l2)
        if r > best:
            best = r
    return float(round(100.0 * best))


def partial_ratio(a: str, b: str) -> float:
    """``fuzz.partial_ratio`` — the OTHER fuzzy scorer the reference uses
    (ref: kpi_inference_curator.py:294 scores each candidate paragraph
    against the annotated relevant paragraph with partial_ratio): the best
    ratio of the SHORTER processed string against any equal-length window
    of the longer, so a paragraph containing the annotation verbatim
    scores 100 regardless of surrounding text.

    Window scoring is the pinned Indel backend (2·LCS/(len sum), the
    python-Levenshtein semantics — see module docstring); the max runs
    over ALL length-m windows (the rapidfuzz formulation, which fixes
    fuzzywuzzy's matching-block window heuristic that can miss the optimal
    alignment).  The pattern bit-mask over the shorter string is built
    once and reused across windows: O((n-m+1)·m) word-ops per pair.
    """
    a, b = _full_process(a), _full_process(b)
    if not a or not b:
        return 0.0
    s, longer = (a, b) if len(a) <= len(b) else (b, a)
    if s in longer:  # verbatim containment: a window equals s exactly
        return 100.0
    m, n = len(s), len(longer)
    pm: dict = {}
    for i, c in enumerate(s):
        pm[c] = pm.get(c, 0) | (1 << i)
    full = (1 << m) - 1
    best = 0
    for start in range(n - m + 1):
        row = full
        for c in longer[start : start + m]:
            mask = pm.get(c)
            if mask:
                u = row & mask
                row = (row + u) | (row - u)
        lcs = m - (row & full).bit_count()
        if lcs > best:
            best = lcs
            if best == m:
                break
    return float(round(100.0 * best / m))


try:  # optional C fast path — ``pip install aicoe-osc-demo-spark[fuzzy]``
    from rapidfuzz import fuzz as _rf_fuzz  # type: ignore

    def _ratio_rapidfuzz(a: str, b: str) -> float:
        # Pre-process with the SAME ``_full_process`` the vendored paths
        # use and pass processor=None: rapidfuzz's ``default_process``
        # strips '_' (non-alphanumeric), while fuzzywuzzy's full_process —
        # the semantics the reference gets from fuzz.token_set_ratio
        # (table_curator.py:186) — uses Python ``\\W``, which PRESERVES
        # '_'.  rapidfuzz's token_set_ratio is the same Indel algorithm as
        # ``_ratio_indel`` (bit-identical by the parity test), just in C.
        return float(
            round(_rf_fuzz.token_set_ratio(_full_process(a), _full_process(b), processor=None))
        )

    _ratio = _ratio_rapidfuzz
except Exception:  # pragma: no cover - depends on container contents
    _ratio_rapidfuzz = None  # type: ignore[assignment]
    _ratio = _ratio_indel

# Backend override knob (read at import time in driver AND python workers,
# so it switches the pandas-UDF scorer consistently): the default is the
# reference-true indel backend; AICOE_FUZZ_BACKEND=difflib selects the
# fuzzywuzzy no-C-extension fallback semantics for comparison runs.
import os as _os

if _os.environ.get("AICOE_FUZZ_BACKEND") == "difflib":  # pragma: no cover
    _ratio = _ratio_difflib
elif _os.environ.get("AICOE_FUZZ_BACKEND") == "indel":  # pragma: no cover
    _ratio = _ratio_indel


@F.pandas_udf(DoubleType())
def fuzzy_ratio_udf(a: pd.Series, b: pd.Series) -> pd.Series:
    return pd.Series([_ratio(x or "", y or "") for x, y in zip(a, b)])


def _processed_tokens(c: Column) -> Column:
    """fuzzywuzzy ``utils.full_process`` token set, JVM-side: non-word chars
    -> space, lowercase, split, drop empties, distinct.  ``(?U)`` makes Java's
    ``\\W`` use Unicode character classes, matching Python's default ``\\W``
    so these tokens agree with the pandas-UDF scorer's.

    No higher-order ``F.filter`` lambda: trim + split on ``" +"`` drops the
    empties natively (a lambda here ejected every bound-expression stage
    from WholeStageCodegen — r13 profiling measured ~0.6 ms/pair
    interpreted vs codegen).  The all-punctuation case (trims to "") must
    yield an EMPTY array, not [""] — the scorer's empty guard keys off
    size() == 0."""
    t = F.trim(F.regexp_replace(F.lower(c), r"(?U)\W", " "))
    return F.when(t == "", F.array().cast("array<string>")).otherwise(
        F.array_distinct(F.split(t, " +"))
    )


def _joined_len(arr: Column) -> Column:
    """Length of ``" ".join(arr)`` — order-independent, so no sort needed.
    Expressed as ``length(concat_ws(...))`` rather than a higher-order
    ``F.aggregate`` fold: the lambda form runs interpreted AND ejects the
    whole stage from codegen (r13 profiling: ~0.6 ms/pair for the bound
    expressions vs native), while concat_ws/length stay inside
    WholeStageCodegen."""
    return F.length(F.concat_ws(" ", arr))


def _ub_from_token_arrays(sa: Column, sb: Column) -> Column:
    """Integer UPPER BOUND on ``round(100 * token_set_ratio)`` from two
    pre-tokenized (processed, distinct) token arrays — per-pair cost is one
    array intersect/except pass, no regex and no sort.

    token_set_ratio = max of three SequenceMatcher ratios over (inter,
    inter+diff_a, inter+diff_b), where inter is the sorted token
    intersection joined by spaces.  Each ratio is 2M/(len_x+len_y) with M
    <= min(len_x, len_y), and inter is a PREFIX of both combined strings,
    so every component is bounded by a pure function of the three string
    LENGTHS (L0 = |inter|, L1 = |inter+diff_a|, L2 = |inter+diff_b|):

        ratio(inter, t1) <= 2*L0/(L0+L1)      (M <= |shorter| = L0)
        ratio(inter, t2) <= 2*L0/(L0+L2)
        ratio(t1, t2)    <= 2*min(L1,L2)/(L1+L2)

    difflib's autojunk can only LOWER M, and Spark's HALF_UP round
    dominates Python's round-half-even, so the bound survives both.  Empty
    processed sides score exactly 0 (the scorer's guard).
    """
    inter = F.array_intersect(sa, sb)
    l0 = _joined_len(inter)
    da = _joined_len(F.array_except(sa, sb))
    db = _joined_len(F.array_except(sb, sa))
    # |inter + " " + diff| with the reference's strip(): the joining space
    # exists only when both pieces are non-empty
    l1 = l0 + da + F.when((l0 > 0) & (da > 0), 1).otherwise(0)
    l2 = l0 + db + F.when((l0 > 0) & (db > 0), 1).otherwise(0)
    two = F.lit(2.0)
    ub = F.greatest(
        two * l0 / (l0 + l1),
        two * l0 / (l0 + l2),
        two * F.least(l1, l2) / (l1 + l2),
    )
    return (
        F.when((F.size(sa) == 0) | (F.size(sb) == 0), F.lit(0))
        .otherwise(F.round(F.lit(100.0) * ub, 0))
        .cast("int")
    )


def _lb_from_token_arrays(sa: Column, sb: Column) -> Column:
    """Integer LOWER bound on the indel ``token_set_ratio`` from two
    pre-tokenized (processed, distinct) arrays: the closed-form prefix
    comparison 2·L0/(L0+min(L1,L2)), which is one of the three ratios the
    scorer maxes over (it equals ratio(inter, t_shorter) exactly under the
    indel backend), so scorer >= this bound always.  Pure length algebra —
    SQL-expressible, which is what makes the candidate-profile companion
    entry (``llm_fuzzy_candidates_profile``) oracle-checkable."""
    inter = F.array_intersect(sa, sb)
    l0 = _joined_len(inter)
    da = _joined_len(F.array_except(sa, sb))
    db = _joined_len(F.array_except(sb, sa))
    l1 = l0 + da + F.when((l0 > 0) & (da > 0), 1).otherwise(0)
    l2 = l0 + db + F.when((l0 > 0) & (db > 0), 1).otherwise(0)
    # bround (HALF_EVEN), not round: the scorer's final round is Python's
    # banker's rounding (fuzzywuzzy utils.intr), and a HALF_UP lb would
    # exceed the scorer on exact .5 landings (e.g. prefix ratio 0.625 →
    # lb 63 vs scorer 62).  HALF_EVEN(prefix) <= HALF_EVEN(max) = scorer,
    # monotonically — the UB keeps HALF_UP, which only widens it.
    return (
        F.when((F.size(sa) == 0) | (F.size(sb) == 0), F.lit(0))
        .otherwise(F.bround(F.lit(100.0) * (F.lit(2.0) * l0 / (l0 + F.least(l1, l2))), 0))
        .cast("int")
    )


def token_set_ratio_upper_bound(a: Column, b: Column) -> Column:
    """``_ub_from_token_arrays`` over raw text columns.  Inside a join,
    tokenize each SIDE first and use the array form — tokenizing inside the
    pair expression reruns the regex |block| times per document."""
    return _ub_from_token_arrays(_processed_tokens(a), _processed_tokens(b))


def with_token_set_bounds(
    df: DataFrame, ta: str, tb: str, ub_col: str = "ub", lb_col: str | None = None
) -> DataFrame:
    """Append the integer token_set_ratio upper (and optionally lower)
    bound as columns — the STAGED form of ``_ub_from_token_arrays`` /
    ``_lb_from_token_arrays``, bit-identical by the staging-parity test.

    Why a staged form exists (r13 profiling): Column expressions are
    TREES, not DAGs — a single nested bound expression re-expands
    ``array_intersect`` at every reference (~20 copies/row once the
    optimizer also pushes the inferred isnotnull into the join condition),
    and each copy is O(|sa|·|sb|).  Staging binds the pairwise array op to
    ONE named column; CollapseProject keeps non-cheap multi-use aliases as
    separate projections, so it is evaluated once per pair (measured 14 s
    → sub-second on 25k pairs at sf0.1).  The two diff joined-lengths
    need no ``array_except`` at all — with distinct token arrays,
    sumlen/size are additive, so joined_len(sa∖sb) = JA − L0 − 1 when the
    intersection and the difference are both non-empty (JA, L0 the joined
    lengths of side and intersection), with the empty cases handled
    explicitly."""
    sa, sb = F.col(ta), F.col(tb)
    d = df.withColumn("_tsb_int", F.array_intersect(sa, sb))
    d = d.withColumn("_tsb_l0", _joined_len(F.col("_tsb_int"))).withColumn(
        "_tsb_si", F.size("_tsb_int")
    )
    l0, si = F.col("_tsb_l0"), F.col("_tsb_si")
    ja, jb = _joined_len(sa), _joined_len(sb)
    da = F.when(si == 0, ja).when(F.size(sa) == si, F.lit(0)).otherwise(ja - l0 - 1)
    db = F.when(si == 0, jb).when(F.size(sb) == si, F.lit(0)).otherwise(jb - l0 - 1)
    d = d.withColumn(
        "_tsb_l1", l0 + da + F.when((l0 > 0) & (da > 0), 1).otherwise(0)
    ).withColumn("_tsb_l2", l0 + db + F.when((l0 > 0) & (db > 0), 1).otherwise(0))
    l1, l2 = F.col("_tsb_l1"), F.col("_tsb_l2")
    empty = (F.size(sa) == 0) | (F.size(sb) == 0)
    two = F.lit(2.0)
    ub = F.greatest(
        two * l0 / (l0 + l1),
        two * l0 / (l0 + l2),
        two * F.least(l1, l2) / (l1 + l2),
    )
    d = d.withColumn(
        ub_col,
        F.when(empty, F.lit(0))
        .otherwise(F.round(F.lit(100.0) * ub, 0))
        .cast("int"),
    )
    if lb_col is not None:
        d = d.withColumn(
            lb_col,
            F.when(empty, F.lit(0))
            .otherwise(
                F.bround(F.lit(100.0) * (two * l0 / (l0 + F.least(l1, l2))), 0)
            )
            .cast("int"),
        )
    return d.drop("_tsb_int", "_tsb_l0", "_tsb_si", "_tsb_l1", "_tsb_l2")


def token_jaccard(a: Column, b: Column) -> Column:
    wa = F.array_distinct(F.split(a, " "))
    wb = F.array_distinct(F.split(b, " "))
    return F.round(
        F.size(F.array_intersect(wa, wb)).cast("double")
        / F.size(F.array_union(wa, wb)).cast("double"),
        6,
    )


def _best_match(
    left: DataFrame,
    right: DataFrame,
    on: list[str],
    score: Column,
    left_id: list[str],
    min_score: float,
) -> DataFrame:
    # the blocked join is typically broadcast (small left side) and inherits
    # the right side's partitioning — spread the pairs before the Python
    # scorer or a single-file input scores single-threaded
    cand = ensure_parallelism(left.join(right, on=on))
    scored = cand.withColumn("match_score", score)
    best = argmax_per_group(
        scored.filter(F.col("match_score") >= min_score),
        left_id,
        F.col("match_score"),
        tiebreak=[c for c in right.columns if c not in on][:1],
    )
    return best


def jaccard_best_match_join(
    left: DataFrame,
    right: DataFrame,
    on: list[str],
    left_text: str,
    right_text: str,
    left_id: list[str],
    min_score: float = 0.0,
) -> DataFrame:
    """Candidate-pruned fuzzy join with a JVM-side token-Jaccard scorer."""
    return _best_match(
        left, right, on, token_jaccard(F.col(left_text), F.col(right_text)), left_id, min_score
    )


def fuzzy_best_match_join(
    left: DataFrame,
    right: DataFrame,
    on: list[str],
    left_text: str,
    right_text: str,
    left_id: list[str],
    min_score: float = 0.0,
    prune: bool = True,
    seed_k: int = 1,
) -> DataFrame:
    """Candidate-pruned fuzzy join with the token_set_ratio pandas UDF —
    exact reference scoring semantics (J4/J5).

    With ``prune=True`` (default) the Python scorer runs on a PRUNED
    candidate set instead of the whole block, with bit-identical results:

    1. each SIDE is tokenized once (regex + distinct per document, not per
       pair), then every blocked pair gets the JVM-side integer upper bound
       (``_ub_from_token_arrays`` — one array-intersect pass, codegen);
    2. the ``seed_k`` top-bound candidates per key are scored exactly,
       establishing a per-key lower bound ``best`` (``seed_k=1`` uses a
       ``max_by`` aggregate — map-side combine, so candidate TEXTS never
       shuffle; larger ``seed_k`` falls back to a window);
    3. pairs with ``ub < best`` cannot win (their true score <= ub < best,
       strictly below, so they can't even tie into the tiebreak) and are
       dropped before the Arrow transfer; survivors are scored exactly.

    The argmax over survivors equals the argmax over all pairs because
    the seeds themselves survive (ub >= own score) and every pruned pair
    is strictly beaten.  On corpora where the best match is clear-cut the
    Python scorer sees a fraction of the block, and the laddered scorer
    (quick-ratio skips) does less work per surviving pair."""
    from .relational import top_k_per_group

    score = fuzzy_ratio_udf(F.col(left_text), F.col(right_text))
    if not prune:
        return _best_match(left, right, on, score, left_id, min_score)
    tiebreak = [c for c in right.columns if c not in on][:1]
    # spread the RIGHT INPUT before tokenization: the blocked join is
    # broadcast-left, so its output inherits the right side's partitioning
    # — spreading the join OUTPUT (the pre-r13 form) left the right-side
    # regex tokenization AND the join itself on one task for single-file
    # inputs (measured at sf0.1: bounds stage 1.8 s → 0.95 s with the
    # input spread; no-op on well-partitioned inputs).
    # NULL text must behave exactly like the unpruned path (the UDF's
    # ``x or ''`` guard scores it 0.0): tokenize the coalesced text so the
    # pair gets ub = 0 and survives whenever a 0-score row could win,
    # instead of a NULL _ub silently failing the survivors filter
    cand = (
        with_token_set_bounds(
            left.withColumn(
                "_ta", _processed_tokens(F.coalesce(F.col(left_text), F.lit("")))
            ).join(
                ensure_parallelism(right).withColumn(
                    "_tb", _processed_tokens(F.coalesce(F.col(right_text), F.lit("")))
                ),
                on=on,
            ),
            "_ta",
            "_tb",
            ub_col="_ub",
        )
        .drop("_ta", "_tb")
        .transform(shared)
    )
    if seed_k == 1:
        # any top-bound candidate is a valid seed (ties included), so the
        # nondeterministic-under-ties max_by is fine here
        seeds = cand.groupBy(*left_id).agg(
            F.max_by(F.struct(F.col(left_text), F.col(right_text)), F.col("_ub")).alias("_m")
        ).select(*left_id, F.col(f"_m.{left_text}").alias(left_text), F.col(f"_m.{right_text}").alias(right_text))
    else:
        seeds = top_k_per_group(cand, left_id, F.col("_ub"), seed_k, tiebreak=tiebreak)
    best = (
        seeds.withColumn("_s", score)
        .groupBy(*left_id)
        .agg(F.max("_s").alias("_best"))
    )
    survivors = cand.join(F.broadcast(best), on=left_id, how="left").filter(
        F.col("_ub") >= F.coalesce(F.col("_best"), F.lit(0))
    )
    scored = survivors.withColumn("match_score", score).drop("_ub", "_best")
    return argmax_per_group(
        scored.filter(F.col("match_score") >= min_score),
        left_id,
        F.col("match_score"),
        tiebreak=tiebreak,
    )


def fs_link_scores(
    left: DataFrame,
    right: DataFrame,
    block_cols: list[str],
    comparisons: list[tuple[str, "Column", float, float]],
    left_id: str = "l_id",
    right_id: str = "r_id",
    lower_bits: float = 0.0,
    upper_bits: float = 6.0,
) -> DataFrame:
    """Fellegi–Sunter probabilistic record linkage (JASA 1969): score
    blocked candidate pairs by summed per-field log-likelihood weights —
    agreement on field f contributes log2(m_f/u_f) bits, disagreement
    log2((1-m_f)/(1-u_f)) — and classify against the (lower, upper)
    decision thresholds.  ``comparisons`` is (field_name, agree_expr,
    m, u) with m = P(agree | same entity), u = P(agree | different
    entities); here m/u are supplied (EM estimation is a separate
    offline loop in practice).

    Engine parity: the per-field weights are PYTHON-computed constants
    quantized to integer nanobits and inlined as literals, so the
    per-pair score is an exact long sum — no runtime float logs at all.

    Scale: candidates come from the equi-join on ``block_cols`` — the
    standard FS blocking pass.  Pair volume is sum of |block_L|·|block_R|;
    keep blocks bounded (multi-pass with tighter keys beats one loose
    key) and check ``join_explosion_report`` on the blocking key first.
    Pairs below ``lower_bits`` are dropped immediately, so the output is
    matches + the clerical-review band, not the cross product.

    Output: (l_id, r_id, weight, match_class in {match, possible}).
    """
    import math

    agree_ni = [
        int(math.floor(math.log2(m / u) * 1e9 + 0.5)) for _, _, m, u in comparisons
    ]
    disagree_ni = [
        int(math.floor(math.log2((1 - m) / (1 - u)) * 1e9 + 0.5))
        for _, _, m, u in comparisons
    ]
    pairs = left.join(right, on=block_cols)
    score = None
    for (name, expr, _, _), aw, dw in zip(comparisons, agree_ni, disagree_ni):
        # missing-data convention (Fellegi–Sunter): a comparison that
        # cannot be made (NULL on either side -> expr is NULL) carries
        # weight 0 — neither evidence for nor against — rather than
        # falling through to the disagreement weight
        term = (
            F.when(expr, F.lit(aw))
            .when(~expr, F.lit(dw))
            .otherwise(F.lit(0).cast("long"))
        )
        score = term if score is None else score + term
    lower_ni = int(lower_bits * 1e9)
    upper_ni = int(upper_bits * 1e9)
    return (
        pairs.select(
            F.col(left_id),
            F.col(right_id),
            score.cast("long").alias("_w_ni"),
        )
        .filter(F.col("_w_ni") >= lower_ni)
        .select(
            left_id,
            right_id,
            F.round(F.col("_w_ni").cast("double") / 1e9, 6).alias("weight"),
            F.when(F.col("_w_ni") >= upper_ni, F.lit("match"))
            .otherwise(F.lit("possible"))
            .alias("match_class"),
        )
    )
