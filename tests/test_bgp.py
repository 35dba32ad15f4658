"""BGP matcher (operators/bgp.py) vs a naive python binding oracle —
bag semantics, join-order independence, product refusal, plan check."""

from __future__ import annotations

import pytest

from spanmarkerner_spark.operators.bgp import bgp_match


def _py_bgp(trips, pats):
    binds = [{}]
    for pat in pats:
        nxt = []
        for b in binds:
            for row in trips:
                bb, ok = dict(b), True
                for term, val in zip(pat, row):
                    if isinstance(term, str) and term.startswith("?"):
                        v = term[1:]
                        if v in bb and bb[v] != val:
                            ok = False
                            break
                        bb[v] = val
                    elif term != val:
                        ok = False
                        break
                if ok:
                    nxt.append(bb)
        binds = nxt
    vs = sorted({k for b in binds for k in b})
    return sorted(tuple(b[v] for v in vs) for b in binds)


TRIPS = [
    ("alice", "knows", "bob"),
    ("alice", "knows", "carol"),
    ("bob", "knows", "carol"),
    ("carol", "born_in", "paris"),
    ("bob", "born_in", "paris"),
    ("alice", "born_in", "lyon"),
    ("paris", "in_country", "france"),
    ("lyon", "in_country", "france"),
    ("dave", "knows", "dave"),
]


def _spark_bgp(spark, pats, **kw):
    df = spark.createDataFrame(TRIPS, "subj string, pred string, obj string")
    out = bgp_match(df, pats, **kw)
    return sorted(tuple(r) for r in out.collect())


def test_path_star_and_constants_match_python_oracle(spark):
    cases = [
        # 2-hop path
        [("?a", "knows", "?b"), ("?b", "born_in", "?c")],
        # 3-hop chain through two predicates
        [
            ("?a", "knows", "?b"),
            ("?b", "born_in", "?c"),
            ("?c", "in_country", "?d"),
        ],
        # star with a constant leaf
        [("?p", "born_in", "paris"), ("?p", "knows", "?q")],
        # fully-constant subject fan-out
        [("alice", "knows", "?x"), ("?x", "born_in", "?city")],
        # variable predicate
        [("bob", "?rel", "?x")],
    ]
    for pats in cases:
        assert _spark_bgp(spark, pats) == _py_bgp(TRIPS, pats), pats


def test_repeated_variable_within_pattern(spark):
    pats = [("?x", "knows", "?x")]
    assert _spark_bgp(spark, pats) == _py_bgp(TRIPS, pats) == [("dave",)]


def test_join_order_is_semantically_irrelevant(spark):
    a = [("?a", "knows", "?b"), ("?b", "born_in", "?c")]
    assert _spark_bgp(spark, a) == _spark_bgp(spark, list(reversed(a)))


def test_disconnected_bgp_refused_unless_opted_in(spark):
    pats = [("?a", "knows", "?b"), ("?x", "in_country", "?y")]
    with pytest.raises(ValueError, match="cartesian"):
        _spark_bgp(spark, pats)
    assert _spark_bgp(spark, pats, allow_product=True) == _py_bgp(
        TRIPS, pats
    )


def test_degenerate_patterns_raise(spark):
    for bad in ([], [("alice", "knows", "bob")], [("?a", "knows")]):
        with pytest.raises(ValueError):
            _spark_bgp(spark, bad)


def _py_optional(trips, req, opt):
    """Oracle for OPTIONAL blocks: each binding extends per match or
    keeps None for the block's new variables."""
    vs_req = sorted({t[1:] for p in req for t in p if str(t).startswith("?")})
    base = _py_bgp(trips, req)
    binds = [dict(zip(vs_req, row)) for row in base]
    all_vars = set(vs_req)
    for pat in opt:
        pvars = [t[1:] for t in pat if str(t).startswith("?")]
        all_vars |= set(pvars)
        nxt = []
        for b in binds:
            matches = []
            for row in trips:
                bb, ok = dict(b), True
                for term, val in zip(pat, row):
                    if str(term).startswith("?"):
                        v = term[1:]
                        if v in bb and bb[v] is not None and bb[v] != val:
                            ok = False
                            break
                        bb[v] = val
                    elif term != val:
                        ok = False
                        break
                if ok:
                    matches.append(bb)
            if matches:
                nxt.extend(matches)
            else:
                bb = dict(b)
                for v in pvars:
                    bb.setdefault(v, None)
                nxt.append(bb)
        binds = nxt
    vs = sorted(all_vars)
    key = lambda t: tuple((x is None, x) for x in t)
    return sorted((tuple(b.get(v) for v in vs) for b in binds), key=key)


def test_optional_blocks_left_join_semantics(spark):
    df = spark.createDataFrame(TRIPS, "subj string, pred string, obj string")
    req = [("?a", "knows", "?b")]
    opt = [("?b", "born_in", "?city"), ("?b", "knows", "?fof")]
    out = bgp_match(df, req, optional=opt)
    key = lambda t: tuple((x is None, x) for x in t)
    got = sorted((tuple(r) for r in out.collect()), key=key)
    assert got == _py_optional(TRIPS, req, opt)
    # alice knows bob (bob born_in paris, knows carol) AND alice knows
    # carol (born_in paris, knows nobody -> NULL fof)
    assert ("alice", "bob", "paris", "carol") in got
    assert ("alice", "carol", "paris", None) in got


def test_optional_validation(spark):
    df = spark.createDataFrame(TRIPS, "subj string, pred string, obj string")
    with pytest.raises(ValueError, match="shares no variable"):
        bgp_match(df, [("?a", "knows", "?b")],
                  optional=[("?x", "born_in", "?y")])
    # chaining onto another block's var shares nothing REQUIRED
    with pytest.raises(ValueError, match="shares no variable"):
        bgp_match(
            df,
            [("?a", "knows", "?b")],
            optional=[("?b", "born_in", "?c"), ("?c", "in_country", "?d")],
        )
    # introducing a var another block already bound is a rebind
    with pytest.raises(ValueError, match="rebinds"):
        bgp_match(
            df,
            [("?a", "knows", "?b")],
            optional=[("?b", "born_in", "?c"), ("?a", "born_in", "?c")],
        )


def test_construct_instantiates_templates(spark):
    from spanmarkerner_spark.operators.bgp import bgp_construct

    df = spark.createDataFrame(TRIPS, "subj string, pred string, obj string")
    out = bgp_construct(
        df,
        [("?a", "knows", "?b"), ("?b", "born_in", "?c")],
        [("?a", "acquainted_city", "?c"), ("?c", "hosts_contact_of", "?a")],
    )
    got = {tuple(r) for r in out.collect()}
    pairs = {
        (s1, o2)
        for s1, p1, o1 in TRIPS
        if p1 == "knows"
        for s2, p2, o2 in TRIPS
        if p2 == "born_in" and s2 == o1
    }
    want = {(a, "acquainted_city", c) for a, c in pairs} | {
        (c, "hosts_contact_of", a) for a, c in pairs
    }
    assert got == want
    with pytest.raises(ValueError, match="unbound"):
        bgp_construct(df, [("?a", "knows", "?b")], [("?a", "p", "?zzz")])


def test_materialize_rules_transitive_closure(spark):
    """Forward chaining closes a subclass chain of length 6 (paths up
    to 5 hops) and a domain rule on top of it; python oracle = naive
    fixpoint."""
    from spanmarkerner_spark.operators.bgp import materialize_rules

    chain = [(f"c{i}", "sub", f"c{i+1}") for i in range(6)]
    typed = [("x", "isa", "c0"), ("y", "isa", "c3")]
    trips = chain + typed
    rules = [
        ([("?a", "sub", "?b"), ("?b", "sub", "?c")], [("?a", "sub", "?c")]),
        ([("?i", "isa", "?k"), ("?k", "sub", "?l")], [("?i", "isa", "?l")]),
    ]
    df = spark.createDataFrame(trips, "subj string, pred string, obj string")
    closed = {tuple(r) for r in materialize_rules(df, rules).collect()}
    # python naive fixpoint
    want = set(trips)
    while True:
        new = set()
        sub = {(s, o) for s, p, o in want if p == "sub"}
        isa = {(s, o) for s, p, o in want if p == "isa"}
        new |= {(a, "sub", c) for a, b in sub for b2, c in sub if b == b2}
        new |= {(i, "isa", l) for i, k in isa for k2, l in sub if k == k2}
        if new <= want:
            break
        want |= new
    assert closed == want
    # every isa of x reaches the chain's end
    assert ("x", "isa", "c6") in closed and ("y", "isa", "c6") in closed


def test_bgp_on_real_pipeline_triples(spark):
    """2-hop BGP over the real KG output equals the python oracle on
    the collected triple set (long-typed entity keys)."""
    from spanmarkerner_spark import schemas
    from spanmarkerner_spark.datagen import gen_pages
    from spanmarkerner_spark.pipeline import run_pipeline

    pages = spark.createDataFrame(gen_pages(25, seed=5), schema=schemas.PAGES)
    tri = (
        run_pipeline(pages)["triples"]
        .select("subj", "pred", "obj")
        .distinct()
        .cache()
    )
    trips = [tuple(r) for r in tri.collect()]
    preds = sorted({p for _s, p, _o in trips})
    assert len(preds) >= 2
    pats = [("?a", preds[0], "?b"), ("?b", preds[1], "?c")]
    got = sorted(tuple(r) for r in bgp_match(tri, pats).collect())
    assert got == _py_bgp(trips, pats)
    # connected plan: keyed joins only, no cartesian
    plan = bgp_match(tri, pats)._jdf.queryExecution().executedPlan().toString()
    assert "Cartesian" not in plan
    tri.unpersist()
