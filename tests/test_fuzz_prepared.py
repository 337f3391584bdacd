"""Differential fuzz: prepared-statement binding vs literal inlining.

Random small scripts over a fixed relation, params placed in every
eligible position (whole conditions, named/positional column bindings,
non-recursive helper-rule args, aggregation-head bodies, :sort/:limit
combos). Each script runs through run_script_df(script, params) — which
may take the skeleton-bind path — and must produce exactly the rows of
the same script with the values inlined as literals (which re-translates
from scratch). A second variant interleaves puts and removes on the read
relation and on an unrelated one between the binds, so cached entries
are reused across unrelated writes and rebuilt after relevant ones. A
third variant adds param-free negations and `or` disjunctions to the entry
body under plain and aggregation heads.
Seeds are fixed; failures reproduce."""

from __future__ import annotations

import random

import pytest


def _db(spark):
    from cozo_spark.datalog.engine import CozoDb

    db = CozoDb(spark)
    rows = [(i, (i * 7) % 23, f"s{i % 5}") for i in range(200)]
    db.register_dataframe(
        "t", spark.createDataFrame(rows, "k long, v long, s string"))
    return db


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _literal(script: str, params: dict) -> str:
    out = script
    for name, val in params.items():
        lit = repr(val) if isinstance(val, str) else str(val)
        out = out.replace(f"${name}", lit)
    return out


def _gen(rnd: random.Random):
    """One random (script, params) pair."""
    params = {}

    def p(val):
        name = f"p{len(params)}"
        params[name] = val
        return f"${name}"

    body = []
    use_helper = rnd.random() < 0.45
    helper = ""
    unify_var = None
    if use_helper:
        r = rnd.random()
        if r < 0.2:
            # r9 (VERDICT r8 #3): param inside a support-rule FILTER —
            # the Cond migrates to the application site via alias exports
            cv = p(rnd.randrange(0, 150))
            helper = f"helper[k, v] := *t{{k, v}}, k > {cv}\n"
            body.append("helper[k, v]")
        elif r < 0.3:
            # r9: support filter + a second param at the entry
            cv = p(rnd.randrange(1, 23))
            helper = f"helper[k, v] := *t{{k, v}}, v < {cv}\n"
            body.append("helper[k, v]")
            body.append(f"k != {p(-1)}")
        elif r < 0.45:
            # r8 (VERDICT r7 #5): param INSIDE the support rule body —
            # hoisted to the application site by _hoist_support_params
            sv = p("s" + str(rnd.randrange(0, 5)))
            helper = f"helper[k, v] := *t{{k, v, s: {sv}}}\n"
            body.append("helper[k, v]")
        elif r < 0.55:
            # r8: two-level support chain with the param at the bottom
            sv = p("s" + str(rnd.randrange(0, 5)))
            helper = (f"base[k, v] := *t[k, v, {sv}]\n"
                      "helper[k, v] := base[k, v]\n")
            body.append("helper[k, v]")
        else:
            helper = "helper[k, v] := *t{k, v}\n"
            if rnd.random() < 0.5:
                body.append(f"helper[{p(rnd.randrange(0, 50))}, v]")
                body.append("k = 1")
            else:
                body.append("helper[k, v]")
    else:
        style = rnd.choice(["named", "pos"])
        if style == "named":
            parts = ["k: k", "v: v"]
            if rnd.random() < 0.4:
                parts.append(f"s: {p('s' + str(rnd.randrange(0, 5)))}")
            else:
                parts.append("s")
            body.append("*t{" + ", ".join(parts) + "}")
        else:
            third = p("s" + str(rnd.randrange(0, 5))) \
                if rnd.random() < 0.3 else "s"
            body.append(f"*t[k, v, {third}]")
    n_conds = rnd.randrange(0, 3)
    for _ in range(n_conds):
        kind = rnd.choice(["gt", "lt", "mod", "plain"])
        if kind == "gt":
            body.append(f"k > {p(rnd.randrange(0, 150))}")
        elif kind == "lt":
            body.append(f"v < {p(rnd.randrange(1, 23))}")
        elif kind == "mod":
            body.append(f"k % {rnd.randrange(2, 5)} == "
                        f"{p(rnd.randrange(0, 2))}")
        else:
            body.append(f"v >= {rnd.randrange(0, 10)}")
    # r9 (VERDICT r8 #3): params in unification expressions
    ur = rnd.random()
    if ur < 0.15:
        # binding unify: w is computed at bind time
        body.append(f"w = k * {p(rnd.randrange(1, 5))}")
        unify_var = "w"
        if rnd.random() < 0.5:
            body.append(f"w > {rnd.randrange(0, 300)}")  # param-free cond on w
    elif ur < 0.25:
        # bound-var unify: filter semantics
        body.append(f"v = {p(rnd.randrange(0, 23))}")
    elif ur < 0.32 and not use_helper:
        # chained computed unifies
        body.append(f"w = {p(rnd.randrange(1, 9))} + 1")
        body.append("x = w * 2")
        unify_var = "x"
    if not params:  # ensure at least one param somewhere
        body.append(f"k != {p(-1)}")
    if unify_var is not None:
        if rnd.random() < 0.4 and not use_helper:
            # r9: computed unify feeding an aggregation (input or key)
            head = rnd.choice([f"?[k, sum({unify_var})]",
                               f"?[{unify_var}, count(k)]"])
        else:
            head = f"?[k, {unify_var}]"
        script = helper + head + " := " + ", ".join(body)
        if head.startswith("?[k,") and rnd.random() < 0.3:
            lim = p(rnd.randrange(5, 30)) if rnd.random() < 0.5 else "20"
            script += f"\n:sort k\n:limit {lim}"
        return script, params
    if rnd.random() < 0.4:
        head = rnd.choice(["?[k, count(v)]", "?[count(k), sum(v)]",
                           "?[s, count(k), min(v)]"
                           if not use_helper else "?[k, count(v)]"])
    else:
        head = "?[k, v]" if use_helper else rnd.choice(
            ["?[k, v]", "?[k]", "?[v, k]"])
    script = helper + head + " := " + ", ".join(body)
    if rnd.random() < 0.3 and head.startswith("?[k"):
        lim = p(rnd.randrange(5, 30)) if rnd.random() < 0.5 else "20"
        script += f"\n:sort k\n:limit {lim}"
    return script, params


@pytest.mark.parametrize("seed", range(40))
def test_prepared_matches_literal(spark, seed):
    db = _db(spark)
    rnd = random.Random(seed)
    script, params = _gen(rnd)
    try:
        got = _rows(db.run_script_df(script, params=dict(params)))
    except Exception as e:
        # if the prepared path errors, the literal script must error too
        with pytest.raises(type(e)):
            db.run_script_df(_literal(script, params))
        return
    want = _rows(db.run_script_df(_literal(script, params)))
    assert got == want, f"seed={seed}\nscript:\n{script}\nparams={params}"
    # second value set reuses the (possibly cached) skeleton — re-check
    params2 = {k: (v + 1 if isinstance(v, int) else "s0")
               for k, v in params.items()}
    got2 = _rows(db.run_script_df(script, params=dict(params2)))
    want2 = _rows(db.run_script_df(_literal(script, params2)))
    assert got2 == want2, f"seed={seed} (2nd values)\n{script}\n{params2}"


def _keyed_db(spark):
    """`t` as an engine relation with a trusted key (so binds may skip
    their distinct), plus an unrelated relation `u`."""
    from cozo_spark.datalog.engine import CozoDb

    db = CozoDb(spark)
    db.run_script(":create t {k: Int => v: Int, s: String}")
    db.run_script(":create u {k: Int => v: Int}")
    rows = ", ".join(f"[{i}, {(i * 7) % 23}, 's{i % 5}']" for i in range(200))
    db.run_script(f"?[k, v, s] <- [{rows}] :put t {{k => v, s}}")
    db.run_script("?[k, v] <- [[1, 1]] :put u {k => v}")
    return db


def _write(db, rnd: random.Random) -> None:
    k = rnd.randrange(0, 220)
    if rnd.random() < 0.5:
        if rnd.random() < 0.7:
            db.run_script(f"?[k, v, s] <- [[{k}, {rnd.randrange(0, 23)}, "
                          f"'s{rnd.randrange(0, 5)}']] :put t {{k => v, s}}")
        else:
            db.run_script(f"?[k] <- [[{k}]] :rm t {{k}}")
    elif rnd.random() < 0.7:
        db.run_script(f"?[k, v] <- [[{k}, {k}]] :put u {{k => v}}")
    else:
        db.run_script(f"?[k] <- [[{k}]] :rm u {{k}}")


@pytest.mark.parametrize("seed", range(16))
def test_prepared_matches_literal_under_writes(spark, seed):
    db = _keyed_db(spark)
    rnd = random.Random(1000 + seed)
    script, params = _gen(rnd)
    for step in range(4):
        try:
            got = _rows(db.run_script_df(script, params=dict(params)))
        except Exception as e:
            with pytest.raises(type(e)):
                db.run_script_df(_literal(script, params))
            return
        want = _rows(db.run_script_df(_literal(script, params)))
        assert got == want, \
            f"seed={seed} step={step}\nscript:\n{script}\nparams={params}"
        _write(db, rnd)
        if step % 2:
            params = {k: (v + 1 if isinstance(v, int) else "s0")
                      for k, v in params.items()}


def _gen_neg_disj(rnd: random.Random):
    """One random (script, params) pair whose entry body also carries a
    param-free negation and/or an `or` disjunction, under a plain or an
    aggregation head, over `_keyed_db`. Params sit only where the hoisted
    skeleton takes them (conditions, column bindings), so every script
    prepares as a skeleton; a disjunctive body is a union of disjunct
    streams that no key makes unique."""
    params = {}

    def p(val):
        name = f"p{len(params)}"
        params[name] = val
        return f"${name}"

    helper = ""
    pin_s = rnd.random() < 0.3  # `s: $p` binds s to the param, not a var
    if pin_s:
        body = [f"*t{{k, v, s: {p('s' + str(rnd.randrange(0, 5)))}}}"]
    else:
        body = ["*t{k, v, s}"]
    neg = rnd.choice(["rule", "rel", "rel_const", None])
    if neg == "rule":
        helper = rnd.choice(["helper[k] := *t{k, s: 's1'}\n",
                             "helper[k] := *u{k}\n"])
        body.append("not helper[k]")
    elif neg == "rel":
        body.append("not *u{k}")
    elif neg == "rel_const":
        body.append(f"not *t{{k, v: {rnd.randrange(0, 23)}}}")
    disj = rnd.choice(["conds", "atom", None] if neg else ["conds", "atom"])
    if disj == "conds":
        body.append(f"(v < {rnd.randrange(3, 15)} or "
                    f"k > {rnd.randrange(50, 180)})")
    elif disj == "atom":
        other = "v > 15" if pin_s else f"s == 's{rnd.randrange(0, 5)}'"
        body.append(f"(*u{{k}} or {other})")
    for _ in range(rnd.randrange(1, 3)):
        if rnd.random() < 0.5:
            body.append(f"k > {p(rnd.randrange(0, 120))}")
        else:
            body.append(f"v < {p(rnd.randrange(5, 23))}")
    head = rnd.choice(["?[k]", "?[k, v]", "?[v]", "?[s, v]",
                       "?[s, count(k)]", "?[count(k), sum(v)]",
                       "?[v, count(k)]", "?[s, min(v), max(k)]"])
    if pin_s:
        head = head.replace("?[s, v]", "?[v]").replace("?[s, ", "?[v, ")
    return helper + head + " := " + ", ".join(body), params


@pytest.mark.parametrize("seed", range(24))
def test_prepared_neg_disj_matches_literal(spark, seed):
    from cozo_spark.datalog.engine import CozoDb

    db = _keyed_db(spark)
    db.run_script("?[k, v] <- [[3, 3], [150, 1], [170, 2]] :put u {k => v}")
    rnd = random.Random(5000 + seed)
    script, params = _gen_neg_disj(rnd)
    for step in range(2):
        got = _rows(db.run_script_df(script, params=dict(params)))
        want = _rows(db.run_script_df(_literal(script, params)))
        assert got == want, \
            f"seed={seed} step={step}\nscript:\n{script}\nparams={params}"
        ent = CozoDb._skel_cache.get(db._skel_key(script, params))
        assert ent is not None and "aggs" in ent, "not a hoisted skeleton"
        params = {k: (v + 7 if isinstance(v, int) else "s2")
                  for k, v in params.items()}
