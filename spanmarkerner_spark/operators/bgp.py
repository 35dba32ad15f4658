"""Basic-graph-pattern matching over triple tables — the SPARQL
query surface.

A BGP is a list of (subj, pred, obj) patterns where a string starting
with '?' is a variable and anything else (string, int — matching the
store's key type) is a constant; the answer is the DataFrame of
variable bindings satisfying ALL patterns, i.e. SPARQL's
`SELECT * WHERE { p1 . p2 . ... }`. `plans/dict_store.star_join` is
the two-pattern star special case; this compiles the general shape.

Compilation is pure DataFrame algebra, one scan of the triple table
per pattern:
- constants become pushed-down filters on that pattern's scan
  (Catalyst pushes them into the parquet reader; predicate constants
  additionally enable partition/file pruning on pred-partitioned or
  z-ordered stores — plans/layout.py);
- a variable repeated WITHIN a pattern becomes an equality filter;
- patterns join on their shared variables.

Join ORDER is chosen greedily for a 100-TB store: start from the
most-constant (most selective) pattern, then always attach the
pattern sharing the most already-bound variables (ties broken by
constant count) — so every join is keyed and the intermediate binding
set only ever narrows or extends by keyed lookup. A pattern sharing
NO variable with the bound set forces a product; that is a real
cartesian in SPARQL semantics too, and this compiler REFUSES it
unless allow_product=True (at web scale an accidental product is a
job-killer; an intentional one is rare).

Skew note: a hub entity (one celebrity id on the join variable)
concentrates a key; the joins here are plain keyed equi-joins, so
AQE's skew-join splitting applies unchanged (the same pin as
tests/test_skew_canonical.py).

Reference provenance: the reference has no query layer at all
(span_marker/ emits predictions); this is the KG-side read surface
its output feeds.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from spanmarkerner_spark.session import cut, release

_COLS = ("subj", "pred", "obj")


def _is_var(term) -> bool:
    return isinstance(term, str) and term.startswith("?")


def _pattern_frame(
    triples: DataFrame, pat, cols=_COLS
) -> tuple[DataFrame, set[str]]:
    df = triples
    seen: dict[str, str] = {}
    for term, col in zip(pat, cols):
        if _is_var(term):
            v = term[1:]
            if v in seen:
                df = df.filter(F.col(col) == F.col(seen[v]))
            else:
                seen[v] = col
        else:
            df = df.filter(F.col(col) == F.lit(term))
    return (
        df.select([F.col(c).alias(v) for v, c in seen.items()]),
        set(seen),
    )


def bgp_match(
    triples: DataFrame,
    patterns: list[tuple],
    cols=_COLS,
    allow_product: bool = False,
    optional: list[tuple] | None = None,
) -> DataFrame:
    """Bindings DataFrame (one column per distinct variable) for the
    conjunction of patterns. Raises ValueError on an empty pattern
    list, a pattern without variables (use a plain filter/count), or
    a disconnected pattern set unless allow_product=True.

    `optional` patterns are SPARQL OPTIONAL blocks (one block per
    pattern): each LEFT-joins onto the required bindings on its
    shared variables — bindings with no match keep NULL for the
    block's new variables instead of being dropped. Every optional
    pattern must share at least one variable with the REQUIRED
    binding set (an unanchored OPTIONAL is a product by stealth), and
    its new variables may not be referenced by other optional
    patterns (block independence, which is what makes one left join
    per block the exact semantics)."""
    if not patterns:
        raise ValueError("empty BGP")
    frames = []
    for pat in patterns:
        if len(pat) != 3:
            raise ValueError(f"pattern must be (s, p, o): {pat!r}")
        f, vs = _pattern_frame(triples, pat, cols)
        if not vs:
            raise ValueError(
                f"pattern {pat!r} binds no variable; filter the store "
                "directly for existence checks"
            )
        n_const = 3 - sum(_is_var(t) for t in pat)
        frames.append((f, vs, n_const))
    # greedy: most-constant pattern first, then max shared vars
    frames.sort(key=lambda t: -t[2])
    out, bound, rest = frames[0][0], set(frames[0][1]), frames[1:]
    while rest:
        best_i = max(
            range(len(rest)),
            key=lambda i: (len(rest[i][1] & bound), rest[i][2]),
        )
        f, vs, _ = rest.pop(best_i)
        shared = sorted(vs & bound)
        if shared:
            out = out.join(f, on=shared)
        elif allow_product:
            out = out.crossJoin(f)
        else:
            raise ValueError(
                "disconnected BGP would require a cartesian product; "
                "pass allow_product=True if intended"
            )
        bound |= vs
    required_vars = set(bound)
    for pat in optional or []:
        f, vs = _pattern_frame(triples, pat, cols)
        shared = sorted(vs & required_vars)
        new = vs - required_vars
        if not shared:
            raise ValueError(
                f"OPTIONAL pattern {pat!r} shares no variable with the "
                "required patterns"
            )
        if new & (bound - required_vars):
            raise ValueError(
                f"OPTIONAL pattern {pat!r} rebinds another optional "
                f"block's variable: {sorted(new & (bound - required_vars))}"
            )
        out = out.join(f, on=shared, how="left")
        bound |= vs
    return out.select(*sorted(bound))


def bgp_union(
    triples: DataFrame,
    branches: list[list[tuple]],
    cols=_COLS,
    allow_product: bool = False,
) -> DataFrame:
    """SPARQL UNION: bindings of each branch BGP, unioned by variable
    name; a variable absent from a branch is NULL in that branch's
    rows (SPARQL's unbound). Bag semantics — no implicit distinct."""
    if not branches:
        raise ValueError("empty UNION")
    outs = [
        bgp_match(triples, pats, cols=cols, allow_product=allow_product)
        for pats in branches
    ]
    all_vars = sorted({v for o in outs for v in o.columns})
    out = None
    for o in outs:
        filled = o.select(
            *[
                (F.col(v) if v in o.columns else F.lit(None)).alias(v)
                for v in all_vars
            ]
        )
        out = filled if out is None else out.unionByName(filled)
    return out


def bgp_minus(
    triples: DataFrame,
    patterns: list[tuple],
    minus: list[tuple],
    cols=_COLS,
    allow_product: bool = False,
) -> DataFrame:
    """SPARQL MINUS: drop required bindings compatible with any
    binding of the `minus` BGP on their SHARED variables — a left-anti
    join, the set-subtraction side of the query algebra (decontam's
    anti-join, applied to bindings). Disjoint variable sets remove
    nothing (SPARQL's rule: no shared variable means no
    incompatibility), enforced here with a ValueError since that call
    is always a mistake."""
    req = bgp_match(triples, patterns, cols=cols, allow_product=allow_product)
    sub = bgp_match(triples, minus, cols=cols, allow_product=allow_product)
    shared = sorted(set(req.columns) & set(sub.columns))
    if not shared:
        raise ValueError(
            "MINUS block shares no variable with the required patterns "
            "(SPARQL semantics would remove nothing)"
        )
    return req.join(sub.select(*shared).distinct(), on=shared, how="left_anti")


def bgp_construct(
    triples: DataFrame,
    where: list[tuple],
    template: list[tuple],
    cols=_COLS,
    allow_product: bool = False,
) -> DataFrame:
    """SPARQL CONSTRUCT / single rule application: match `where`,
    instantiate each `template` (s, p, o) per binding — variables
    substituted, constants literal — and return the DISTINCT new
    triples in the store's column layout. Template variables must be
    bound by `where`."""
    binds = bgp_match(
        triples, where, cols=cols, allow_product=allow_product
    )
    bound = set(binds.columns)
    for pat in template:
        if len(pat) != 3:
            raise ValueError(f"template must be (s, p, o): {pat!r}")
        for t in pat:
            if _is_var(t) and t[1:] not in bound:
                raise ValueError(
                    f"template variable {t} unbound by the WHERE patterns"
                )
    out = None
    for pat in template:
        row = binds.select(
            *[
                (F.col(t[1:]) if _is_var(t) else F.lit(t)).alias(c)
                for t, c in zip(pat, cols)
            ]
        )
        out = row if out is None else out.unionByName(row)
    return out.distinct()


def materialize_rules(
    triples: DataFrame,
    rules: list[tuple[list[tuple], list[tuple]]],
    cols=_COLS,
    max_iter: int = 10,
) -> DataFrame:
    """Forward-chaining rule materialization (RDFS/OWL-RL-style
    inference): apply every (where, template) rule, add the NEW
    triples to the store, and repeat to fixpoint — transitive rules
    like `(?a sub ?b)(?b sub ?c) => (?a sub ?c)` close in
    O(log diameter) rounds because each round composes paths of
    doubled length through the growing store.

    Scale notes: each round is |rules| BGP joins plus one anti-join
    against the store (only genuinely-new triples feed the next
    round — the classic semi-naive guard against re-deriving the
    whole closure every round is approximated store-side: derivations
    are recomputed per round, but the TERMINATION check is the cheap
    anti-join, counted by the same job that materializes it, and
    iterative lineage is cut with session.cut the same way
    connected_components does, releasing each superseded round).
    Rule heads/bodies are tiny; the data-side joins are the same keyed
    BGP plans as bgp_match. Returns the closed store (original +
    derived). Raises if the closure has not converged within max_iter
    rounds."""
    store, _ = cut(triples.select(*cols))
    for _ in range(max_iter):
        derived = None
        for where, template in rules:
            d = bgp_construct(store, where, template, cols=cols)
            derived = d if derived is None else derived.unionByName(d)
        fresh, n_fresh = cut(
            derived.distinct().join(store, on=list(cols), how="left_anti")
        )
        if n_fresh == 0:
            release(fresh)
            return store
        nxt, _ = cut(store.unionByName(fresh))
        release(store)
        release(fresh)
        store = nxt
    raise RuntimeError(
        f"rule closure did not converge within {max_iter} rounds"
    )


def bgp_match_encoded(
    store: dict,
    patterns: list[tuple],
    resolve: bool = True,
    allow_product: bool = False,
) -> DataFrame:
    """BGP over a dictionary-ENCODED store (plans/dict_store.py
    {'terms', 'preds', 'encoded'}) — how an RDF engine actually
    executes a query: string constants resolve to their int ids with
    one bounded <=1-row dictionary lookup each (metadata-class
    collect, same as the lineage/model-card collects), the pattern
    joins run on 8-byte keys, and with resolve=True the binding
    columns translate back to terms via dictionary joins (entity
    variables through `terms`, predicate variables through `preds`).

    An unknown constant (not in the dictionary) means zero matches by
    construction; this returns an EMPTY bindings frame with the right
    columns rather than raising, matching SPARQL semantics.

    Scale: each constant lookup is one filter on a persisted
    dictionary (bounded collect of <=1 row — same class as the
    lineage/model-card metadata collects); the pattern joins are the
    int-key plans the encoded store exists for; the resolve joins are
    per-variable joins against the node dictionary, keyed on the id.
    """
    terms, preds, enc = store["terms"], store["preds"], store["encoded"]

    def _lookup(df: DataFrame, key_col: str, id_col: str, value):
        row = df.filter(F.col(key_col) == F.lit(value)).head(1)
        return row[0][id_col] if row else None

    missing = False
    pats_ids = []
    for pat in patterns:
        if len(pat) != 3:
            raise ValueError(f"pattern must be (s, p, o): {pat!r}")
        s, p, o = pat
        ids = []
        for term, (d, kc, ic) in zip(
            pat,
            ((terms, "term", "tid"), (preds, "pred", "pid"),
             (terms, "term", "tid")),
        ):
            if _is_var(term):
                ids.append(term)
            else:
                tid = _lookup(d, kc, ic, term)
                if tid is None:
                    missing = True
                ids.append(tid)
        pats_ids.append(tuple(ids))
    # variable kinds (entity vs predicate position) for resolution
    ent_vars, pred_vars = set(), set()
    for s, p, o in patterns:
        for t, bucket in ((s, ent_vars), (p, pred_vars), (o, ent_vars)):
            if _is_var(t):
                bucket.add(t[1:])
    if pred_vars & ent_vars:
        raise ValueError(
            f"variable used in both predicate and entity position: "
            f"{sorted(pred_vars & ent_vars)}"
        )
    if missing:
        # an absent constant cannot match: empty store, ids stubbed
        # to an impossible key (dense ids are 1-based)
        enc = enc.filter(F.lit(False))
        pats_ids = [
            tuple(t if _is_var(t) else -1 for t in p) for p in pats_ids
        ]
    out = bgp_match(
        enc,
        pats_ids,
        cols=("s_id", "p_id", "o_id"),
        allow_product=allow_product,
    )
    if not resolve:
        return out
    for v in sorted(ent_vars | pred_vars):
        d, kc, ic = (
            (terms, "term", "tid") if v in ent_vars else (preds, "pred", "pid")
        )
        out = (
            out.join(
                d.select(
                    F.col(ic).alias(v), F.col(kc).alias(f"_{v}")
                ),
                v,
            )
            .drop(v)
            .withColumnRenamed(f"_{v}", v)
        )
    return out.select(*sorted(ent_vars | pred_vars))
