"""Template assignment (U3 in SURVEY §2.10): broadcast + vectorized match.

Assignment is a *pure function* of the final template set: each turn's
masked text is matched through a read-only Drain tree rebuilt from the
broadcast template list (same ``treeSearch``/``fastMatch`` semantics as the
reference, ≈L55–88/L167–187) — no generalization happens here, so the
operation is embarrassingly parallel, order-insensitive, and deterministic.

Vectorization: within each Arrow batch, masked texts are factorized and
each *unique* text is matched once; per-row work is a dictionary-codes
take.  A worker-global memo cache persists matches across batches, so hot
templates cost one tree walk per executor, not per row.  Parameter
extraction compiles one regex per template (reference
``get_parameter_list`` quirks preserved — see
:func:`logparser_spark.drain.template_to_param_regex`).
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from logparser_spark.config import DrainParams
from logparser_spark.drain import (
    Cluster,
    DrainTree,
    event_id_of,
    template_to_param_regex,
)
from logparser_spark.operators.engines import engine
from logparser_spark.operators.mine import with_masked

ASSIGN_FIELDS = [
    T.StructField("masked", T.StringType()),
    T.StructField("template", T.StringType()),
    T.StructField("event_id", T.StringType()),
    T.StructField("parameters", T.ArrayType(T.StringType())),
    T.StructField("matched", T.BooleanType()),
]


class _BaseMatcher:
    """Shared matcher plumbing: memoization + vectorized per-template
    parameter extraction. Subclasses implement ``match_unique``."""

    def __init__(self, templates: list[str], with_params: bool):
        self.with_params = with_params
        # exact-template fallback: a text whose masked form IS a mined
        # template always counts as matched, even when similarity search
        # can't reach it (e.g. all-wildcard templates score sim=0)
        self.template_set = frozenset(templates)
        self.memo: dict[str, tuple[str, str, bool]] = {}
        self.param_rx: dict[str, object] = {}

    def regex_for(self, template: str):
        """Compiled parameter regex per template (None → no parameters)."""
        if template not in self.param_rx:
            self.param_rx[template] = template_to_param_regex(template)
        return self.param_rx[template]

    def extract_params_vectorized(
        self, texts: pd.Series, codes, results: list
    ) -> pd.Series:
        """Per-template vectorized extraction: one C-regex pass per
        template in the batch via ``str.extract`` instead of per-row
        Python ``findall`` (reference semantics preserved — groups are
        the ``<*>`` positions of the final template, stripped)."""
        out = pd.Series([[] for _ in range(len(texts))], index=texts.index, dtype=object)
        if not self.with_params:
            return out
        # group rows by *template* (small), not by unique text (large)
        tpl_of_code = np.array(
            [r[0] if r[2] else None for r in results], dtype=object
        )
        tpl_s = pd.Series(tpl_of_code[codes], index=texts.index)
        for template, idx in tpl_s.groupby(tpl_s).groups.items():
            rx = self.regex_for(template)
            if rx is None:
                continue
            ext = texts.loc[idx].str.extract(rx)
            vals = ext.apply(lambda col: col.str.strip())
            lists = [
                [] if any(p is None or p != p for p in row) else list(row)
                for row in vals.itertuples(index=False, name=None)
            ]
            out.loc[idx] = pd.Series(lists, index=idx, dtype=object)
        return out


class _Matcher(_BaseMatcher):
    """Read-only matcher over a fixed template set.

    Matching is vectorized: rows group by their tree-leaf key (token
    count + the leading tokens the fixed-depth descent consumes), and
    each group's token matrix is compared against the leaf's few
    candidate templates with numpy — exact ``fastMatch`` semantics
    (similarity over non-wildcard positions, wildcard-count tie-break,
    first-cluster-wins on full ties) without per-row Python.
    """

    def __init__(self, templates: list[str], params: DrainParams, with_params: bool):
        super().__init__(templates, with_params)
        self.params = params
        self.tree = DrainTree(params)
        for t in templates:
            self.tree.insert(Cluster(tokens=t.split(" ") if t else [""]))
        # leaf-node id → precomputed candidate arrays
        self._leaf_cache: dict[int, tuple] = {}

    def _leaf_arrays(self, node) -> tuple:
        key = id(node)
        hit = self._leaf_cache.get(key)
        if hit is None:
            tpls = []
            for c in node.clusters:
                toks = np.array(c.tokens, dtype=object)
                wild = toks == "<*>"
                tpls.append((toks, wild, int(wild.sum()), c.template))
            hit = self._leaf_cache[key] = tuple(tpls)
        return hit

    def match_unique(self, uniques: np.ndarray) -> list[tuple[str, str, bool]]:
        """Match an array of unique masked texts; returns per-unique
        (template, event_id, matched)."""
        tok_lists = [u.split() or [""] for u in uniques]
        pfx = self.tree.prefix_len
        groups: dict[tuple, list[int]] = {}
        for i, toks in enumerate(tok_lists):
            groups.setdefault((len(toks), *toks[:pfx]), []).append(i)

        results: list[tuple[str, str, bool] | None] = [None] * len(uniques)
        st = self.params.st
        for key, idxs in groups.items():
            length = key[0]
            node = self.tree.resolve_leaf(tok_lists[idxs[0]])
            cands = self._leaf_arrays(node) if node is not None else ()
            if not cands:
                for i in idxs:
                    t = uniques[i]
                    results[i] = (t, event_id_of(t), t in self.template_set)
                continue
            mat = np.array([tok_lists[i] for i in idxs], dtype=object)  # [n, L]
            n = len(idxs)
            best_sim = np.full(n, -1.0)
            best_np = np.full(n, -1)
            best_j = np.full(n, -1)
            for j, (toks, wild, n_wild, _tpl) in enumerate(cands):
                if len(toks) != length:
                    continue
                eq = mat == toks  # broadcast compare [n, L]
                if n_wild:
                    eq = eq & ~wild
                sim = eq.sum(axis=1) / length
                upd = (sim > best_sim) | ((sim == best_sim) & (n_wild > best_np))
                best_j[upd] = j
                best_sim[upd] = sim[upd]
                best_np[upd] = n_wild
            for pos, i in enumerate(idxs):
                if best_j[pos] >= 0 and best_sim[pos] >= st:
                    tpl = cands[best_j[pos]][3]
                    results[i] = (tpl, event_id_of(tpl), True)
                else:
                    t = uniques[i]
                    results[i] = (t, event_id_of(t), t in self.template_set)
        return results  # type: ignore[return-value]


class _ScanMatcher(_BaseMatcher):
    """Read-only per-text matcher for the engines without a vectorized
    rule (Spell, LenMa, SHISO, LogMine, LogSig): each unique text goes
    through the engine's ``best(tokens) -> template | None`` (memoized
    per unique text by ``_match_batch``)."""

    def __init__(self, templates: list[str], best, with_params: bool):
        super().__init__(templates, with_params)
        self.best = best

    def match_unique(self, uniques: np.ndarray) -> list[tuple[str, str, bool]]:
        out = []
        for u in uniques:
            tpl = self.best(u.split() or [""])
            if tpl is not None:
                out.append((tpl, event_id_of(tpl), True))
            else:
                out.append((u, event_id_of(u), u in self.template_set))
        return out


def _tokens(template: str) -> list[str]:
    return template.split(" ") if template else [""]


def _search_best(kmap):
    """``best`` of an online map's read-only ``search``."""

    def best(toks: list[str]) -> str | None:
        hit = kmap.search(toks)
        return None if hit is None else hit.template

    return best


def _nearest_best(templates: list[str], dist, threshold: float):
    """``best`` = the template at the least ``dist(template, text)``,
    accepted at or under ``threshold``; ties go to the earliest, i.e.
    the lexicographically-smallest, template (templates arrive sorted)."""
    tpls = [(_tokens(t), t) for t in templates]

    def best(toks: list[str]) -> str | None:
        d, tpl = min(
            ((dist(tt, toks), t) for tt, t in tpls),
            key=lambda dt: dt[0],
            default=(math.inf, None),
        )
        return tpl if d <= threshold else None

    return best


def _spell_matcher(templates: list[str], params, with_params: bool) -> _ScanMatcher:
    """The LCS decision rule of :mod:`logparser_spark.spell`."""
    from logparser_spark.spell import SpellCluster, SpellMap

    smap = SpellMap(params)
    smap.clusters = [SpellCluster(tokens=_tokens(t)) for t in templates]
    return _ScanMatcher(templates, _search_best(smap), with_params)


def _lenma_matcher(templates: list[str], params, with_params: bool) -> _ScanMatcher:
    """The length-vector cosine rule of :mod:`logparser_spark.lenma`."""
    from logparser_spark.lenma import LenMaCluster, LenMaMap

    lmap = LenMaMap(params)
    lmap.clusters = [
        LenMaCluster(tokens=_tokens(t), lengths=[len(x) for x in _tokens(t)])
        for t in templates
    ]
    return _ScanMatcher(templates, _search_best(lmap), with_params)


def _shiso_matcher(templates: list[str], params, with_params: bool) -> _ScanMatcher:
    """The SHISO mining distance rule applied against the final template
    list.  The capacity tree only accelerates online mining — a read-only
    walk can diverge from a text's true cluster branch (texts differ from
    their templates at parameter positions), while the flat rule is
    exact."""
    from logparser_spark.shiso import log_dist

    def dist(tpl: list[str], toks: list[str]) -> float:
        return log_dist(tpl, toks, params.mismatch_floor)

    return _ScanMatcher(
        templates, _nearest_best(templates, dist, params.threshold), with_params
    )


def _logmine_matcher(templates: list[str], params, with_params: bool) -> _ScanMatcher:
    """The LogMine distance applied template-vs-text (wildcards match
    anything), within ``max_dist``."""
    from logparser_spark.logmine import logmine_dist

    return _ScanMatcher(
        templates, _nearest_best(templates, logmine_dist, params.max_dist), with_params
    )


def _logsig_matcher(templates: list[str], params, with_params: bool) -> _ScanMatcher:
    """LogSig signatures are majority-term sequences, so a text matches
    the signature whose terms form an ordered subsequence of its tokens,
    most terms first; texts containing no full signature (minority group
    members whose group signature carries another member's terms) fall
    back to maximum term overlap.  Both rules tie to the
    lexicographically-smallest signature."""
    sigs = [(_tokens(t), set(_tokens(t)), t) for t in templates]

    def is_subseq(sig: list[str], toks: list[str]) -> bool:
        it = iter(toks)
        return all(s in it for s in sig)

    def best(toks: list[str]) -> str | None:
        tok_set = set(toks)
        hit, hit_n = None, -1
        for sig, sig_set, tpl in sigs:
            if len(sig) > hit_n and sig_set <= tok_set and is_subseq(sig, toks):
                hit, hit_n = tpl, len(sig)
        if hit is None:
            for sig, sig_set, tpl in sigs:
                n = len(sig_set & tok_set)
                if n > hit_n:
                    hit, hit_n = tpl, n
            if hit_n <= 0:
                hit = None
        return hit

    return _ScanMatcher(templates, best, with_params)


class _IPLoMMatcher(_BaseMatcher):
    """Read-only matcher over a fixed IPLoM (or AEL/LKE — same
    fixed-length wildcarded shape) template set.

    IPLoM templates are fixed-length with ``<*>`` at non-constant
    positions; a text belongs to a leaf iff it agrees with the template on
    every constant position.  When several same-length templates are
    compatible, the most specific (most constants) wins; full ties fall to
    the lexicographically-smallest template (templates arrive sorted from
    ``assign_templates``).  Vectorized like :class:`_Matcher`: rows group
    by token count and compare against each candidate with one numpy
    broadcast.

    **Defined semantics (ADVICE r2):** most-specific-compatible is the
    assignment rule, by definition — not a reconstruction of the batch
    fit's leaf membership.  At 10^12-turn scale assignment must handle
    texts the (sampled) fit never saw, so a membership map cannot be the
    contract; the rule is deterministic, text-local, and coincides with
    fit membership whenever a text is compatible with exactly one mined
    template (true on the synthetic corpus — pinned by
    ``test_distributed_iplom_matches_sequential_oracle``).  The
    ambiguous-overlap case is pinned by
    ``test_iplom_matcher_most_specific_rule``.
    """

    def __init__(self, templates: list[str], with_params: bool):
        super().__init__(templates, with_params)
        self.by_len: dict[int, list[tuple]] = {}
        for t in templates:  # sorted order preserved for tie-breaks
            toks = np.array(t.split(" ") if t else [""], dtype=object)
            wild = toks == "<*>"
            self.by_len.setdefault(len(toks), []).append(
                (toks, wild, int((~wild).sum()), t)
            )

    def match_unique(self, uniques: np.ndarray) -> list[tuple[str, str, bool]]:
        tok_lists = [u.split() or [""] for u in uniques]
        groups: dict[int, list[int]] = {}
        for i, toks in enumerate(tok_lists):
            groups.setdefault(len(toks), []).append(i)
        results: list[tuple[str, str, bool] | None] = [None] * len(uniques)
        for length, idxs in groups.items():
            cands = self.by_len.get(length, [])
            mat = np.array([tok_lists[i] for i in idxs], dtype=object)
            n = len(idxs)
            best_score = np.full(n, -1)
            best_tpl: list[str | None] = [None] * n
            for toks, wild, n_const, tpl in cands:
                ok = ((mat == toks) | wild).all(axis=1)
                upd = ok & (n_const > best_score)
                for pos in np.flatnonzero(upd):
                    best_tpl[pos] = tpl
                best_score[upd] = n_const
            for pos, i in enumerate(idxs):
                tpl = best_tpl[pos]
                if tpl is not None:
                    results[i] = (tpl, event_id_of(tpl), True)
                else:
                    t = uniques[i]
                    results[i] = (t, event_id_of(t), t in self.template_set)
        return results  # type: ignore[return-value]


def _constant_matcher(templates: list[str], params, with_params: bool) -> _IPLoMMatcher:
    """IPLoM, AEL, LKE and MoLFI share the fixed-length wildcarded shape."""
    return _IPLoMMatcher(templates, with_params)


# worker-global cache: one matcher per (templates identity, params) per worker
_MATCHER_CACHE: dict[tuple, _BaseMatcher] = {}


def _match_batch(matcher: _Matcher, masked: pd.Series, text: pd.Series) -> pd.DataFrame:
    codes, uniques = pd.factorize(masked)
    uniques = np.asarray(uniques, dtype=object)
    memo = matcher.memo
    missing = [i for i, u in enumerate(uniques) if u not in memo]
    if missing:
        fresh = matcher.match_unique(uniques[missing])
        for i, res in zip(missing, fresh):
            if len(memo) < 1_000_000:  # bound executor memory
                memo[uniques[i]] = res
    results = [memo.get(u) for u in uniques]
    if any(r is None for r in results):  # memo overflow path
        idx = [i for i, r in enumerate(results) if r is None]
        for i, res in zip(idx, matcher.match_unique(uniques[idx])):
            results[i] = res
    return pd.DataFrame(
        {
            "template": pd.array([results[c][0] for c in codes], dtype=object),
            "event_id": pd.array([results[c][1] for c in codes], dtype=object),
            "parameters": matcher.extract_params_vectorized(text, codes, results),
            "matched": pd.array([results[c][2] for c in codes], dtype=bool),
        },
        index=masked.index,
    )


def assign_templates(
    df: DataFrame,
    clusters: list,
    params: DrainParams | None = None,
    with_params: bool = True,
    strategy: str = "drain",
    strategy_params=None,
) -> DataFrame:
    """Attach ``masked, template, event_id, parameters, matched`` columns.

    Implemented as a scalar Arrow pandas_udf over (masked, text) returning
    a struct — passthrough columns never cross the JVM↔Python boundary,
    so Arrow traffic is just the two string columns in and the assignment
    struct out. ``strategy`` names the engine of
    :data:`~logparser_spark.operators.engines.ENGINES` whose matcher runs;
    ``strategy_params`` are its params (Drain uses ``params``).
    """
    eng = engine(strategy)
    params = params or DrainParams()
    sp = eng.params_for(strategy_params, params)
    make_matcher = eng.matcher
    if "masked" not in df.columns:
        df = with_masked(df, params)
    templates = sorted(c.template for c in clusters)
    import hashlib

    token = hashlib.md5("\n".join(templates).encode("utf-8")).hexdigest()
    bc = df.sparkSession.sparkContext.broadcast(templates)
    wp = with_params

    @F.pandas_udf(T.StructType(ASSIGN_FIELDS[1:]))  # template..matched
    def assign_udf(masked: pd.Series, text: pd.Series) -> pd.DataFrame:
        key = (token, strategy, sp, wp)
        matcher = _MATCHER_CACHE.get(key)
        if matcher is None:
            matcher = make_matcher(bc.value, sp, wp)
            if len(_MATCHER_CACHE) > 8:
                _MATCHER_CACHE.clear()
            _MATCHER_CACHE[key] = matcher
        return _match_batch(matcher, masked, text)

    out = df.withColumn("_assign", assign_udf(F.col("masked"), F.col("text")))
    return out.select(
        *[c for c in df.columns],
        F.col("_assign.template").alias("template"),
        F.col("_assign.event_id").alias("event_id"),
        F.col("_assign.parameters").alias("parameters"),
        F.col("_assign.matched").alias("matched"),
    )
