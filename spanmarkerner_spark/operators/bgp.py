"""Basic-graph-pattern matching over triple tables — the SPARQL
query surface.

A BGP is a list of (subj, pred, obj) patterns where a string starting
with '?' is a variable and anything else (string, int — matching the
store's key type) is a constant; the answer is the DataFrame of
variable bindings satisfying ALL patterns, i.e. SPARQL's
`SELECT * WHERE { p1 . p2 . ... }`. `plans/dict_store.star_join_resolved`
is the two-pattern star special case over the dictionary-encoded
store; this compiles the general shape.

Compilation is pure DataFrame algebra, one scan of the triple table
per pattern:
- constants become pushed-down filters on that pattern's scan
  (Catalyst pushes them into the parquet reader; predicate constants
  additionally enable partition/file pruning on pred-partitioned
  stores);
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
