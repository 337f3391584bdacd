"""CozoDb: the engine facade — parse → stratify → evaluate → output.

Query lifecycle mirrors the reference (cozo-core/src/runtime/db.rs:403-421,
SURVEY §3) with Spark-idiomatic execution:

1. parse (parser.py — pest grammar transcription)
2. normalize: DNF expansion per clause (translate.expand_disjunctions)
3. stratify: rule-dependency SCC condensation; negation/normal-aggregation
   edges may not close cycles (query/stratify.rs:225-314)
4. evaluate bottom-up: non-recursive rules once; recursive SCCs by
   semi-naive fixpoint with delta substitution (query/eval.rs:113-303) —
   meet-aggregation rules use changed-value deltas (MeetAggrStore semantics)
5. output stage (db.rs:1455-1685): :assert / :order / :offset / :limit /
   stored-relation mutation ops.

Stored relations live in a registry of DataFrames with declared key columns;
:put/:rm/:update are PK upsert/delete/merge — run against Delta tables on a
real deployment, plain DataFrame swaps here (same semantics, SURVEY §7).
"""

from __future__ import annotations

import logging as _logging
import threading as _threading
from dataclasses import dataclass, field
from typing import Any, Optional

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F
from pyspark.sql import types as T

from cozo_spark.datalog.ast import (
    Call, Cond, Conj, Const, ConstRule, Disj, FixedApply, HeadAggr, HeadVar,
    ListEx, NamedRelApply, Negation, OutOpts, Param, Program, RelApply,
    RuleApply, RuleClause, SearchApply, TableSchema, Unify, Var,
    _atom_nondet, _atom_ref_vars, atom_has_param, expr_has_param,
    expr_nondet, expr_vars, program_nondet, rename_vars_expr,
    rule_has_param, subst_params_expr,
)
from cozo_spark.datalog.parser import const_eval, parse_script
from cozo_spark.datalog.translate import (
    ClauseTranslator, QueryError, expand_disjunctions, head_aggregates,
    unique_names,
)
from cozo_spark.datalog.fixpoint import (_checkpoint, _local_const, _local_type,
    collect_capped, epochs_exceeded)
from cozo_spark.fixed_rules import get_fixed_rule
from cozo_spark.plans.local import local_frame
from cozo_spark.plans.memo import plan_memo
from cozo_spark.functions.aggregates import AGGREGATIONS

import itertools as _itertools
from collections import OrderedDict as _OrderedDict
from contextlib import contextmanager as _contextmanager

_log = _logging.getLogger("cozo_spark.engine")

_STORED_REL_SEQ = _itertools.count()


# prepared-statement skeleton build outcome: evaluation failed for a
# reason that may change with relation state — retry next call, do NOT
# cache an "ineligible" marker (that is for structural ineligibility only)
_SKEL_RETRY = object()


def _body_refs_rule(atoms, name: str) -> bool:
    """True if any (possibly nested) atom applies rule `name`."""
    for a in atoms:
        if isinstance(a, RuleApply) and a.name == name:
            return True
        if isinstance(a, Negation) and _body_refs_rule([a.atom], name):
            return True
        if isinstance(a, Conj) and _body_refs_rule(a.atoms, name):
            return True
        if isinstance(a, Disj) and _body_refs_rule(a.branches, name):
            return True
    return False


def _args_var_names(args, out: set) -> None:
    for x in args:
        if isinstance(x, str):
            out.add(x)
        elif isinstance(x, Var):
            out.add(x.name)
        elif x is not None:
            out |= expr_vars(x)


def _body_var_names(atoms) -> set:
    """Every variable name appearing anywhere in (possibly nested) atoms —
    used to pick collision-free fresh names for hoisted param bindings."""
    out: set = set()
    for a in atoms:
        if isinstance(a, (RuleApply, RelApply)):
            _args_var_names(a.args, out)
            if isinstance(a, RelApply) and a.validity is not None:
                out |= expr_vars(a.validity)
        elif isinstance(a, (NamedRelApply, SearchApply)):
            for c, v in a.pairs.items():
                if v is None:
                    out.add(c)
                else:
                    _args_var_names([v], out)
            if isinstance(a, NamedRelApply) and a.validity is not None:
                out |= expr_vars(a.validity)
            if isinstance(a, SearchApply):
                for v in a.opts.values():
                    if v is not None:
                        out |= expr_vars(v)
        elif isinstance(a, Unify):
            out.add(a.var)
            out |= expr_vars(a.expr)
        elif isinstance(a, Cond):
            out |= expr_vars(a.expr)
        elif isinstance(a, Negation):
            out |= _body_var_names([a.atom])
        elif isinstance(a, Conj):
            out |= _body_var_names(a.atoms)
        elif isinstance(a, Disj):
            out |= _body_var_names(a.branches)
    return out


def _body_rule_refs(atoms) -> set:
    """Names of rules applied by any (possibly nested) atom."""
    out: set = set()
    for a in atoms:
        if isinstance(a, RuleApply):
            out.add(a.name)
        elif isinstance(a, Negation):
            out |= _body_rule_refs([a.atom])
        elif isinstance(a, Conj):
            out |= _body_rule_refs(a.atoms)
        elif isinstance(a, Disj):
            out |= _body_rule_refs(a.branches)
    return out


def _reaches_recursion(rules: dict) -> set:
    """Rule names that are (transitively) recursive: members of a cyclic
    SCC, plus every rule that can reach one. Hoisting a constant out of an
    application of such a rule would defeat magic-set restriction (the
    seed constant becomes a free variable, so the skeleton computes the
    full unrestricted fixpoint)."""
    deps: dict = {}
    for name, rule in rules.items():
        if isinstance(rule, list):
            d: set = set()
            for cl in rule:
                d |= _body_rule_refs(cl.body)
        elif isinstance(rule, FixedApply):
            d = {inp.name for inp in rule.inputs if inp.kind == "rule"}
        else:
            d = set()
        deps[name] = d & set(rules)
    cyclic: set = set()
    for scc in _condensation(set(rules), deps):
        if len(scc) > 1 or next(iter(scc)) in deps[next(iter(scc))]:
            cyclic |= scc
    reach = set(cyclic)
    changed = True
    while changed:
        changed = False
        for name, d in deps.items():
            if name not in reach and d & reach:
                reach.add(name)
                changed = True
    return reach


def _extend_apps(atoms: list, name: str, extra: list,
                 cond_pack: tuple | None = None, fresh=None) -> bool:
    """Append `extra` args to every application of rule `name` in `atoms`
    (in place, recursing through Conj/Disj). False if the rule is applied
    under a Negation — the appended column would be unbound there, so the
    hoist is unsound.

    ``cond_pack`` = (alias_vars, cond_exprs): filter conditions migrated
    OUT of the hoisted rule (r9, VERDICT r8 #3). ``alias_vars`` are the
    rule's newly-exported head variables in head order (appended AFTER the
    param exports, matching the arg order here); for each application site
    a fresh site-local variable is generated per alias (via ``fresh``),
    appended as the corresponding arg, and each migrated condition is
    re-inserted right after the application with its variables renamed to
    the site's fresh args — the filter applies to exactly the rows it
    filtered inside the rule, at a level closer to the entry where the
    entry hoist residualizes it."""
    i = 0
    while i < len(atoms):
        a = atoms[i]
        if isinstance(a, RuleApply) and a.name == name:
            args = list(a.args) + list(extra)
            inserts: list = []
            if cond_pack is not None:
                alias_vars, cond_exprs = cond_pack
                mapping = {v: fresh() for v in alias_vars}
                args += [Var(mapping[v]) for v in alias_vars]
                inserts = [Cond(rename_vars_expr(e, mapping))
                           for e in cond_exprs]
            atoms[i] = RuleApply(name, args)
            atoms[i + 1:i + 1] = inserts
            i += len(inserts)
        elif isinstance(a, Negation):
            if _body_refs_rule([a.atom], name):
                return False
        elif isinstance(a, Conj):
            if not _extend_apps(a.atoms, name, extra, cond_pack, fresh):
                return False
        elif isinstance(a, Disj):
            for j, br in enumerate(a.branches):
                if isinstance(br, (Conj, Negation, Disj)):
                    if not _extend_apps([br], name, extra, cond_pack, fresh):
                        return False
                elif isinstance(br, RuleApply) and br.name == name:
                    sub = [br]
                    if not _extend_apps(sub, name, extra, cond_pack, fresh):
                        return False
                    a.branches[j] = sub[0] if len(sub) == 1 else Conj(sub)
        i += 1
    return True


def _hoist_support_params(rules: dict) -> bool:
    """Migrate Param args out of NON-RECURSIVE support rules into their
    application sites (r8, VERDICT r7 #5) — a param in a support rule body
    is the entry-level hoist applied one level down:

        sup[x] := *r{a: x, b: $p}        ?[x] := sup[x]
        ==>
        sup[x, f] := *r{a: x, b: f}      ?[x] := sup[x, $p]

    The Param lands at the application site, where the entry hoist
    (_hoist_entry: fresh var + eq residual, bind-time filter +
    distinct re-projection) takes over — set semantics are preserved
    because filter-then-project == project-then-filter for an equality on
    the exported column. Iterates callers upward (params migrate along the
    rule DAG; recursion is pre-gated by the caller, so this terminates).
    r9 (VERDICT r8 #3): params inside FILTER conditions of support rules
    (`sup[x] := *r{a: x, b: y}, y > $lo`) are migrated too — the most
    common prepared shape. The whole Cond is lifted out of the rule: each
    of its variables gains a fresh alias export (`f = y` + head var, so
    head names never collide), and every application site re-inserts the
    condition over site-fresh argument vars, where the next level up (or
    the entry hoist's Cond residualization) takes over. Set semantics are
    preserved by the same argument as the arg-position hoist: the rule's
    store grows unfiltered rows distinct on the widened head, the migrated
    filter keeps exactly the rows the in-rule filter kept, and the entry's
    distinct re-projection restores the original column set.

    Mutates `rules` in place; returns False on any ineligible shape:
    multi-clause or aggregation-head param rules, params outside direct
    RelApply/NamedRelApply/RuleApply args or whole Cond atoms, application
    under Negation, a FixedApply consuming the rewritten rule,
    ConstRule/FixedApply params, condition vars not bound by a positive
    atom of the same body.
    """
    from cozo_spark.datalog.translate import _atom_output_vars
    for n, r in rules.items():
        if n != "?" and rule_has_param(r) and not isinstance(r, list):
            return False  # ConstRule / FixedApply params: nothing to hoist
    all_vars: set = set()
    for rule in rules.values():
        if isinstance(rule, list):
            for cl in rule:
                all_vars |= _body_var_names(cl.body)
                all_vars |= {h.name if isinstance(h, HeadVar) else h.var
                             for h in cl.head}
    counter = [0]

    def _fresh() -> str:
        while f"__prepsup{counter[0]}_" in all_vars:
            counter[0] += 1
        name = f"__prepsup{counter[0]}_"
        counter[0] += 1
        all_vars.add(name)
        return name

    # budget: a caller already de-parameterized can regain params when a
    # callee defined later is processed (caller-before-callee dict order),
    # so a k-rule param chain can need up to O(k^2) processings (ADVICE r8)
    for _ in range(len(rules) ** 2 + 1):
        target = next(
            (n for n, r in rules.items()
             if n != "?" and isinstance(r, list) and rule_has_param(r)),
            None)
        if target is None:
            return True
        clauses = rules[target]
        if len(clauses) != 1:
            return False  # disjunctive param rule: branch alignment unclear
        cl = clauses[0]
        if any(not isinstance(h, HeadVar) for h in cl.head):
            return False  # aggregation head: hoisting changes multiplicity
        from cozo_spark.datalog.translate import flatten_conjunction

        body = flatten_conjunction(cl.body)
        new_body: list = []
        hoisted: list = []  # (fresh var name, Param)
        pend_conds: list = []  # whole Cond exprs to migrate to call sites
        for atom in body:
            if not atom_has_param(atom):
                new_body.append(atom)
                continue
            if isinstance(atom, Cond):
                pend_conds.append(atom.expr)
                continue
            if isinstance(atom, (RelApply, RuleApply)):
                if (isinstance(atom, RelApply) and atom.validity is not None
                        and expr_has_param(atom.validity)):
                    return False
                new_args = []
                for x in atom.args:
                    if isinstance(x, Param):
                        f = _fresh()
                        new_args.append(Var(f))
                        hoisted.append((f, x))
                    elif x is not None and not isinstance(x, str) \
                            and expr_has_param(x):
                        return False  # param nested in an arg expression
                    else:
                        new_args.append(x)
                new_body.append(
                    RelApply(atom.name, new_args, atom.validity)
                    if isinstance(atom, RelApply)
                    else RuleApply(atom.name, new_args))
            elif isinstance(atom, NamedRelApply):
                if atom.validity is not None \
                        and expr_has_param(atom.validity):
                    return False
                new_pairs = {}
                for c, v in atom.pairs.items():
                    if isinstance(v, Param):
                        f = _fresh()
                        new_pairs[c] = Var(f)
                        hoisted.append((f, v))
                    elif v is not None and expr_has_param(v):
                        return False
                    else:
                        new_pairs[c] = v
                new_body.append(
                    NamedRelApply(atom.name, new_pairs, atom.validity))
            else:
                return False  # Unify/Negation/Disj/Search with params
        if not hoisted and not pend_conds:
            return False  # defensive: param detected but not liftable
        cond_pack = None
        alias_order: list = []   # orig var names, head-append order
        if pend_conds:
            binds: set = set()
            for a in new_body:
                binds |= _atom_output_vars(a)
            cvars: set = set()
            for e in pend_conds:
                cvars |= expr_vars(e)
            if not cvars <= binds:
                return False  # cond var unbound by a positive atom
            if any(expr_nondet(e) for e in pend_conds):
                return False  # re-evaluating at the site would re-roll
            # r10 (ADVICE r9 high): the widened store is distinct on
            # (head + alias exports), so a consumer whose head AGGREGATES
            # would fold one row per (head, alias) pair instead of one per
            # set-semantic head row (`?[count(s)] := sup[s]` counted the
            # alias multiplicity). Plain-head consumers collapse the extra
            # rows at their own head-distinct; aggregation heads do not —
            # refuse the skeleton (unprepared path stays correct).
            for n2, r2 in rules.items():
                if n2 == target or not isinstance(r2, list):
                    continue
                for cl2 in r2:
                    if _body_refs_rule(cl2.body, target) and any(
                            not isinstance(h, HeadVar) for h in cl2.head):
                        return False
            alias_of: dict = {}
            for v in sorted(cvars):
                f = _fresh()
                alias_of[v] = f
                new_body.append(Unify(f, Var(v)))
                alias_order.append(f)
            # site conds reference the EXPORT names (renamed per site)
            pend_conds = [rename_vars_expr(e, alias_of) for e in pend_conds]
            cond_pack = (alias_order, pend_conds)
        cl.body = new_body
        cl.head = (list(cl.head) + [HeadVar(f) for f, _ in hoisted]
                   + [HeadVar(f) for f in alias_order])
        extra = [p for _, p in hoisted]
        for n2, r2 in rules.items():
            if isinstance(r2, FixedApply):
                if any(inp.kind == "rule" and inp.name == target
                       for inp in r2.inputs):
                    return False  # fixed rule consumes the changed arity
                continue
            if not isinstance(r2, list) or n2 == target:
                continue
            for cl2 in r2:
                if not _extend_apps(cl2.body, target, extra,
                                    cond_pack, _fresh):
                    return False
    return False  # budget exhausted: recursion (pre-gated by callers) or
    #               a param chain deeper than the O(k^2) bound


def _hoist_entry(dprog: Program):
    """Hoist every param out of a NON-RECURSIVE program's single-clause
    entry rule (see "prepared statements" in CozoDb). Returns
    (rules, head, body, cols, residuals, computed, pinned):

    - ``rules``: dprog.rules, rewritten in place by _hoist_support_params
      when support rules carry params;
    - ``body``: the entry body with every param atom rewritten or removed;
    - ``cols``: the variables the raw body stream must carry (the head's
      non-computed inputs, then the residuals' other vars);
    - ``residuals``: bind-time row predicates; ``computed``: bind-time
      (var, expr, explode) columns; ``pinned``: fresh vars of column
      bindings, each filtered to ONE value by raw Column equality.

    None = not hoistable (the caller runs the ordinary path)."""
    from cozo_spark.datalog.translate import (_atom_output_vars,
                                              flatten_conjunction)

    entry = dprog.rules["?"]
    if not (isinstance(entry, list) and len(entry) == 1):
        return None  # one hoist target only
    head = entry[0].head
    if any(not isinstance(h, (HeadVar, HeadAggr)) for h in head):
        return None
    head_names = [h.name if isinstance(h, HeadVar) else h.var for h in head]
    if any(isinstance(h, HeadAggr) for h in head):
        # r7 (VERDICT r6 #6): aggregation-head scripts where the params
        # bind BEFORE the aggregation — the common `WHERE key = $id
        # GROUP BY` shape. The body-hoisting rules below only ever lift
        # whole pre-aggregation row predicates, so applying them to the
        # raw (multiset) match stream before the aggregation is exactly
        # the unprepared evaluation order. Gates:
        if any(expr_has_param(e) for h in head
               if isinstance(h, HeadAggr) for e in h.extra):
            return None  # param as an aggregation argument
        if any(isinstance(h, HeadAggr) and h.aggr not in AGGREGATIONS
               for h in head):
            return None
        if any(isinstance(r, FixedApply) for r in dprog.rules.values()):
            return None  # fixed-rule support: left to the ordinary path
        group_names = [h.name for h in head if isinstance(h, HeadVar)]
        if len(set(group_names)) != len(group_names):
            return None
        if not head_names or not all(head_names):
            return None
    elif not head_names or len(set(head_names)) != len(head_names):
        return None
    rules = dprog.rules
    if any(rname != "?" and rule_has_param(rule)
           for rname, rule in rules.items()):
        # r8 (VERDICT r7 #5): params in NON-recursive support rules are
        # hoisted to their application sites, where the entry hoist
        # below takes over (the caller refuses recursion first, so the
        # migration runs on a DAG). Ineligible shapes refuse the
        # skeleton; nothing reads the partly rewritten parse after that.
        if not _hoist_support_params(rules):
            return None
    body = flatten_conjunction(rules["?"][0].body)
    skel_body: list = []
    residuals: list = []
    computed: list = []    # (var, expr, multi): bind-time columns (r9)
    comp_names: set = set()
    outside_binds = None   # lazily: vars bound by non-param-unify atoms
    unify_param_ids: set = set()
    used_names = set(head_names) | _body_var_names(body)
    fresh_n = 0
    # fresh vars bound to ONE value by a column-binding residual (raw
    # Column equality, like the unprepared path's const-arg filter);
    # user-written `x == $p` conditions never pin: Cozo's `==` equates
    # 115 and 115.0, which are distinct keys
    pinned: set = set()

    def _fresh() -> str:
        nonlocal fresh_n
        while f"__prep{fresh_n}_" in used_names:
            fresh_n += 1
        name = f"__prep{fresh_n}_"
        fresh_n += 1
        return name

    for atom in body:
        if not atom_has_param(atom):
            skel_body.append(atom)
            continue
        if isinstance(atom, Cond):
            residuals.append(atom.expr)
            continue
        if isinstance(atom, (RelApply, RuleApply)):
            if (isinstance(atom, RelApply) and atom.validity is not None
                    and expr_has_param(atom.validity)):
                return None
            new_args = []
            for x in atom.args:
                if isinstance(x, Param):
                    fresh = _fresh()
                    pinned.add(fresh)
                    new_args.append(Var(fresh))
                    residuals.append(Call("eq", (Var(fresh), x)))
                elif x is not None and not isinstance(x, str) \
                        and expr_has_param(x):
                    return None  # param nested in an arg expression
                else:
                    new_args.append(x)
            if isinstance(atom, RelApply):
                skel_body.append(
                    RelApply(atom.name, new_args, atom.validity))
            else:
                skel_body.append(RuleApply(atom.name, new_args))
            continue
        if isinstance(atom, NamedRelApply):
            if atom.validity is not None \
                    and expr_has_param(atom.validity):
                return None
            new_pairs = {}
            for c, v in atom.pairs.items():
                if isinstance(v, Param):
                    fresh = _fresh()
                    pinned.add(fresh)
                    new_pairs[c] = Var(fresh)
                    residuals.append(Call("eq", (Var(fresh), v)))
                elif v is not None and expr_has_param(v):
                    return None
                else:
                    new_pairs[c] = v
            skel_body.append(
                NamedRelApply(atom.name, new_pairs, atom.validity))
            continue
        if isinstance(atom, Unify) and atom.var != "_":
            # r9 (VERDICT r8 #3): unification with params —
            #   `y = $k * 2`  (binding: compute the column at bind time)
            #   `*r{a: y}, y = $p + 1`  (y bound elsewhere: filter)
            # Sound for BOTH head kinds: a binding unify is 1:1 on the
            # raw multiset stream and per-row expansion (explode) /
            # joins commute on multisets, so computing at bind time
            # (before residual filters, before aggregation) is exactly
            # the unprepared evaluation order. The raw body stream
            # leaves y out; binding creates it by name.
            y = atom.var
            if outside_binds is None:
                unify_param_ids = {
                    id(a) for a in body
                    if isinstance(a, Unify) and atom_has_param(a)}
                outside_binds = set().union(
                    *(_atom_output_vars(a) for a in body
                      if id(a) not in unify_param_ids), set())
            if y in outside_binds or y in comp_names:
                if atom.multi:
                    return None  # membership filter: multiplicity-laden
                # raw == like the translator's bound-unify filter (the
                # compile_expr eq would fold type mismatches to False)
                residuals.append(Call("__raw_eq", (Var(y), atom.expr)))
                continue
            if expr_nondet(atom.expr):
                return None  # a draw is never cached (_plan_cache_key)
            if not expr_vars(atom.expr) <= (comp_names | outside_binds):
                return None  # unbound / forward computed chain: the
                #               unprepared path reports or evaluates
            for a in body:
                if (id(a) == id(atom) or isinstance(a, Cond)
                        or id(a) in unify_param_ids):
                    continue  # param-free Conds on y move below; later
                    #           param unifies compile after y at bind
                if y in _body_var_names([a]):
                    return None  # y feeds a join/negation/search
            computed.append((y, atom.expr, atom.multi))
            comp_names.add(y)
            continue
        return None  # Negation/Disj/Search with params: unsound to hoist
    if comp_names:
        kept = []
        for a in skel_body:
            # param-free filters over a computed column evaluate at
            # bind time too (same pre-projection position)
            if isinstance(a, Cond) and expr_vars(a.expr) & comp_names:
                residuals.append(a.expr)
            else:
                kept.append(a)
        skel_body = kept
    resid_vars: set = set()
    for r in residuals:
        resid_vars |= expr_vars(r)
    for _, e, _m in computed:
        resid_vars |= expr_vars(e)
    resid_vars -= comp_names
    cols = list(dict.fromkeys(
        [v for v in head_names if v not in comp_names] + sorted(resid_vars)))
    if not cols:
        return None  # every head var computed: no body stream to cache
    return rules, head, skel_body, cols, residuals, computed, pinned


def _condensation(nodes: set, deps: dict) -> list[set]:
    """SCC condensation in dependency-first topological order (the reference
    uses petgraph's condensation in query/stratify.rs:225-314). Iterative
    Tarjan — no recursion-depth limit on deep rule chains."""
    index: dict[str, int] = {}
    low: dict[str, int] = {}
    on_stack: set = set()
    stack: list = []
    sccs: list[set] = []
    counter = [0]

    for root in sorted(nodes):
        if root in index:
            continue
        work = [(root, iter(sorted(deps.get(root, ()))))]
        index[root] = low[root] = counter[0]
        counter[0] += 1
        stack.append(root)
        on_stack.add(root)
        while work:
            v, it = work[-1]
            advanced = False
            for w in it:
                if w not in nodes:
                    continue
                if w not in index:
                    index[w] = low[w] = counter[0]
                    counter[0] += 1
                    stack.append(w)
                    on_stack.add(w)
                    work.append((w, iter(sorted(deps.get(w, ())))))
                    advanced = True
                    break
                elif w in on_stack:
                    low[v] = min(low[v], index[w])
            if advanced:
                continue
            work.pop()
            if work:
                pv = work[-1][0]
                low[pv] = min(low[pv], low[v])
            if low[v] == index[v]:
                scc = set()
                while True:
                    w = stack.pop()
                    on_stack.discard(w)
                    scc.add(w)
                    if w == v:
                        break
                sccs.append(scc)
    # Tarjan emits SCCs in reverse topological order of the condensation DAG
    # w.r.t. edges v->dep; emitting order is already dependencies-first here
    # because deps point from rule to its prerequisites.
    return sccs


_TYPE_MAP = {
    "Any": T.StringType(), "Bool": T.BooleanType(), "Int": T.LongType(),
    "Float": T.DoubleType(), "String": T.StringType(), "Bytes": T.BinaryType(),
    "Uuid": T.StringType(), "Json": T.StringType(),
    "Validity": T.StructType([T.StructField("ts", T.LongType()),
                              T.StructField("is_assert", T.BooleanType())]),
}


# hit/miss telemetry for the epoch-0 projection fast path (ADVICE r11)
_PURE_PROJ_STATS = {"calls": 0, "hits": 0}


def _pure_projection_rows(df: DataFrame, static_ck: dict,
                          static_ck_rows: dict) -> Optional[int]:
    """Row count of ``df`` WITHOUT an action, when ``df`` is provably a
    pure column projection/rename over exactly one of the fixpoint's
    already-counted static checkpoints.

    The analyzed plan must be a straight chain of Project/SubqueryAlias
    nodes (both preserve row counts; generators surface as Generate,
    dedup as Deduplicate, filters as Filter — all rejected) down to a
    single leaf, and that leaf must be the SAME materialized relation
    (``sameResult`` on the checkpoint's analyzed LogicalRDD) as a counted
    static input. Returns None on any doubt — callers then pay the
    ordinary checkpoint+count action, so this is a pure fast path.

    Observability (ADVICE r11): the module-level ``_PURE_PROJ_STATS``
    hit/miss counters make a silent fast-path regression visible (e.g. a
    Spark upgrade renaming the Project/SubqueryAlias nodes this matches
    by getSimpleName) — a fail-safe miss is correct but slower, and
    otherwise leaves no signal.
    """
    _PURE_PROJ_STATS["calls"] += 1
    try:
        node = df._jdf.queryExecution().analyzed()
        for _ in range(64):
            kids = node.children()
            n = kids.size()
            if n == 0:
                break
            if n != 1 or node.getClass().getSimpleName() not in (
                    "Project", "SubqueryAlias"):
                return None
            node = kids.apply(0)
        else:
            return None
        if node.children().size() != 0:
            return None
        for nm, ck in static_ck.items():
            rows = static_ck_rows.get(nm)
            if rows is None:
                continue
            if node.sameResult(ck._jdf.queryExecution().analyzed()):
                _PURE_PROJ_STATS["hits"] += 1
                return rows
        return None
    except Exception:
        return None


def _col_type(s: Optional[str]) -> T.DataType:
    if s is None:
        return T.StringType()
    s = s.rstrip("?")
    if s in _TYPE_MAP:
        return _TYPE_MAP[s]
    if s.startswith("[") and s.endswith("]"):
        inner = s[1:-1].split(";")[0]
        return T.ArrayType(_col_type(inner))
    if s.startswith("<") and s.endswith(">"):
        el = s[1:-1].split(";")[0]
        return T.ArrayType(T.FloatType() if el == "F32" else T.DoubleType())
    if s.startswith("("):
        return T.ArrayType(T.StringType())
    return T.StringType()


# pending delta rows above which the LSM view's key set no longer
# broadcasts (module-level so StoredRelation._flat_lsm_view can reach it;
# CozoDb re-exports it as a class attribute for tests and tuning)
_LSM_BROADCAST_ROWS = 100_000


@dataclass
class StoredRelation:
    name: str
    keys: list  # ColDef
    non_keys: list  # ColDef
    # Backing frame for the `df` property. Read `rel.df`, never `flat_df`,
    # unless you explicitly must NOT trigger the lazy LSM view rebuild
    # (the compaction worker's identity checks are the one such place).
    flat_df: DataFrame
    access_level: str = "normal"
    put_triggers: list = field(default_factory=list)
    rm_triggers: list = field(default_factory=list)
    replace_triggers: list = field(default_factory=list)
    indices: dict = field(default_factory=dict)
    # True when the rows are known to be unique on `keys` (engine-maintained
    # relations: mutations dropDuplicates on keys; register_dataframe with
    # explicit keys: caller contract). Gates the translator's distinct elision.
    keys_trusted: bool = True
    # lazy-merge plans stacked on top of the last full materialization;
    # bounded by CozoDb._COMPACT_EVERY (write path is O(delta), not O(table))
    pending_merges: int = 0
    # LSM read-view bookkeeping (r9): put/rm deltas accumulate in
    # `lsm_pending` over the `lsm_base` snapshot, and `df` is rebuilt as
    # ONE anti-join + ONE latest-seq-wins window over their union — plan
    # depth (and read/compaction cost) stays O(1) in the number of pending
    # mutations instead of one join+window LAYER per mutation (each layer
    # cost ~0.4 s of broadcast/stage overhead at read time). Reset
    # whenever df is swapped wholesale (update-op stacking, ::compact,
    # persist); txn shadow clones start fresh (defaults).
    lsm_base: Optional[DataFrame] = None
    lsm_pending: list = field(default_factory=list)
    lsm_rows: int = 0  # pending delta rows (broadcast gate); >cap = unknown
    # plan layers already stacked on lsm_base when it was seeded (e.g. by
    # :update through _set_merged) — counted toward the compaction trigger
    # so a mixed update/put sequence can't defer compaction to ~2× the
    # intended read-plan depth (ADVICE r9 low)
    lsm_base_layers: int = 0
    # async compaction (r10, VERDICT r9 #3): at the compaction threshold the
    # current flat view is FROZEN as the new lsm_base (lazy — no jobs on the
    # mutating caller) and a background thread materializes it, swapping the
    # frozen leaf for the checkpointed frame on completion. The lock
    # serializes LSM-state changes against the installer; installs are
    # identity-guarded (`lsm_base is frozen`), so any wholesale reset
    # (::import / :update / ::compact / txn commit publishing a new
    # StoredRelation) silently discards a stale install.
    lsm_compacting: bool = False
    lsm_thread: Any = None
    lsm_minors: int = 0  # minor collapses since the last major freeze
    # async minor collapse (r11): the pending-log collapse (a small
    # checkpoint job, ~0.3 s) moves off the writer too. One minor in
    # flight per relation; installs are identity-guarded on the captured
    # running-union prefix, so any wholesale reset (freeze, ::import,
    # :update) silently discards a stale collapse.
    lsm_minor_inflight: bool = False
    lsm_minor_thread: Any = None
    # monotonic per-delta sequence for latest-wins ordering. With async
    # collapse, len(lsm_pending) is NOT a valid sequence source: a collapse
    # install shrinks the list while newer suffix deltas keep their higher
    # seqs, and a len-based seq for the next delta would sort BELOW them.
    # Collapsed deltas take seq 0; live deltas are always >= 1.
    lsm_seq: int = 0
    # Lazy flat-view rebuild (r11): a put/rm marks the view dirty instead of
    # rebuilding it — the 8-10 py4j DataFrame ops of the rebuild (~0.09 s of
    # every warm put, BASELINE.md r10 profile) move to the FIRST READ, which
    # needed the fresh plan anyway. The reference's memtable insert pays zero
    # plan construction per write (cozorocks); this is the Spark analogue.
    # Identity-keyed plan/skeleton caches stay correct without version keys:
    # `rel.df` identity changes exactly at first-read-after-mutation, so any
    # cache validity check (`rel.df is ref`) that runs forces the rebuild it
    # is about to depend on. RLock because the getter may fire under
    # lsm_lock (freeze path, sync-compact path).
    lsm_view_dirty: bool = False
    lsm_lock: Any = field(default_factory=_threading.RLock, repr=False)
    # LOGICAL write counter: bumped by mutations (:put/:rm/.../:replace,
    # ::import), NOT by physical re-materializations (::compact,
    # persist_relation) which swap .df without changing contents.
    # MultiTransaction conflict detection compares (created_seq, version),
    # so a compaction on either side never fabricates a write-write
    # conflict, and a concurrent drop+recreate (version resets) can never
    # alias an old snapshot (created_seq is globally unique per creation;
    # txn shadow clones copy it).
    version: int = 0
    created_seq: int = field(
        default_factory=lambda: next(_STORED_REL_SEQ))

    @property
    def key_names(self) -> list:
        return [c.name for c in self.keys]

    @property
    def col_names(self) -> list:
        return [c.name for c in self.keys] + [c.name for c in self.non_keys]

    @property
    def df(self) -> DataFrame:
        """Current read view. If a mutation marked the LSM view dirty, the
        flat view is rebuilt here — plan construction only, no jobs — so
        write bursts never pay per-put plan rebuilds for reads that never
        happen between them."""
        if self.lsm_view_dirty:
            with self.lsm_lock:
                if self.lsm_view_dirty:
                    self.flat_df = self._flat_lsm_view()
                    self.lsm_view_dirty = False
        return self.flat_df

    @df.setter
    def df(self, value: DataFrame) -> None:
        # wholesale swaps (::compact, ::import, :update stacking, txn
        # publish, worker install) define the view directly
        self.flat_df = value
        self.lsm_view_dirty = False

    def _flat_lsm_view(self) -> DataFrame:
        """Flat LSM read view over the CURRENT lsm_base + pending union:
        base ANTI-JOIN (all pending keys) ∪ latest-seq-wins(pending).
        One join + one window regardless of pending depth. Callers hold
        lsm_lock."""
        allp = self.lsm_pending[-1][1]
        keys = self.key_names
        w = W.partitionBy(*keys).orderBy(F.col("__seq").desc())
        live = (allp.withColumn("__rn", F.row_number().over(w))
                .filter((F.col("__rn") == 1) & (~F.col("__tomb")))
                .select(*self.col_names))
        keyset = allp.select(*keys).distinct()
        # the CLASS attribute, looked up at call time — CozoDb is defined
        # later in this module; tests/tuning set the gate via
        # CozoDb._LSM_BROADCAST_ROWS and the view must honor it (r11: a
        # module-constant read here left the advertised knob inert and
        # desynchronized from _apply_lsm_delta's row accounting)
        if self.lsm_rows <= CozoDb._LSM_BROADCAST_ROWS:
            keyset = F.broadcast(keyset)
        return (self.lsm_base.join(keyset, on=keys, how="left_anti")
                .unionByName(live))


@dataclass
class NamedRows:
    """Result rows, optionally chained into pages (NamedRows::next,
    db.rs:150-264). With ``CozoDb.row_page_size`` set, run_script
    materializes at most one page at a time from a partition-streaming
    iterator; the ``next`` page pulls lazily on access — bounded driver
    memory for arbitrarily large results (run_script_df stays the
    unbounded DataFrame path)."""

    headers: list
    rows: list
    _next_fn: Optional[Any] = None     # lazy next-page puller
    _next_page: Optional[Any] = None   # materialized next page
    # per-run facts an engine user can inspect programmatically, e.g.
    # {"fixed_rules": {"BetweennessCentralityDist": {"mode": "sampled",
    #  "pivots": 311, "nodes": 20000, "auto_sampled": True}}} (r9)
    metadata: dict = field(default_factory=dict)

    @property
    def next(self) -> Optional["NamedRows"]:
        if self._next_page is None and self._next_fn is not None:
            self._next_page = self._next_fn()
            self._next_fn = None
        return self._next_page

    def has_more(self) -> bool:
        """NamedRows::has_more (db.rs:159-161)."""
        return self._next_page is not None or self._next_fn is not None

    def flatten(self) -> list:
        """Chain → list of DETACHED individual pages (NamedRows::flatten,
        db.rs:163-177 takes/severs `next` on each page). Detaching means
        as_dict()/has_more() on one flattened element covers that page
        alone — not an O(n²) re-serialization of the remaining chain."""
        out, cur = [], self
        while cur is not None:
            nxt = cur.next  # materializes a lazy page before severing
            cur._next_page = None
            cur._next_fn = None
            out.append(cur)
            cur = nxt
        return out

    def as_dict(self) -> dict:
        """JSON form; like the reference's into_json (db.rs:179-194) this
        serializes the WHOLE chain (iteratively — a many-thousand-page
        result must not hit the Python recursion limit). Non-destructive:
        the chain stays linked (use flatten() to sever)."""
        pages, cur = [], self
        while cur is not None:
            pages.append(cur)
            cur = cur.next
        out = None
        for p in reversed(pages):
            out = {"headers": p.headers, "rows": p.rows, "next": out}
        return out

    def into_payload(self, relation: str, op: str) -> tuple:
        """(script, params) re-applying these rows as a mutation — the
        reference's NamedRows::into_payload (db.rs:237-242)."""
        cols = ", ".join(self.headers)
        query = f"?[{cols}] <- $data :{op} {relation} {{ {cols} }}"
        return query, {"data": [list(r) for r in self.rows]}


class CozoDb:
    """PySpark-native engine with CozoDB's query surface.

    >>> db = CozoDb(spark)
    >>> db.run_script(':create edge {fr: Int, to: Int}')
    >>> db.run_script('?[a, b] <- [[1, 2], [2, 3]] :put edge {fr, to}')
    >>> db.run_script('reach[a, b] := *edge[a, b]
    ...                reach[a, c] := reach[a, b], *edge[b, c]
    ...                ?[a, b] := reach[a, b]')
    """

    MAX_FIXPOINT_EPOCHS = 500

    def __init__(self, spark: SparkSession):
        self.spark = spark
        self.relations: dict[str, StoredRelation] = {}
        self.temp_relations: dict[str, DataFrame] = {}  # session `_name` stores
        self._tls = _threading.local()  # per-thread run flags (see below)
        # rows-per-page cap for run_script/compat/HTTP results; None =
        # unbounded single collect (current behavior). When set, results
        # come back as a lazy NamedRows page chain (db.rs:150-177 `next`).
        self.row_page_size: Optional[int] = None

    # Per-THREAD run flags. The engine is served concurrently (the HTTP
    # server is a ThreadingHTTPServer; the compat facade is thread-unaware),
    # so a plain instance attribute would let one thread's
    # run_script_read_only reject an unrelated thread's write — or its
    # finally-restore clear the guard mid-run on another thread. Properties
    # are data descriptors, so every existing `self._read_only = ...`
    # assignment routes through the thread-local transparently.

    @property
    def _read_only(self) -> bool:
        return getattr(self._tls, "read_only", False)

    @_read_only.setter
    def _read_only(self, v: bool) -> None:
        self._tls.read_only = v

    @property
    def _in_trigger(self) -> bool:
        return getattr(self._tls, "in_trigger", False)

    @_in_trigger.setter
    def _in_trigger(self, v: bool) -> None:
        self._tls.in_trigger = v

    @property
    def _entry_display_headers(self):
        return getattr(self._tls, "entry_display_headers", None)

    @_entry_display_headers.setter
    def _entry_display_headers(self, v) -> None:
        self._tls.entry_display_headers = v

    @property
    def _had_eager_eval(self) -> bool:
        return getattr(self._tls, "had_eager_eval", True)

    @_had_eager_eval.setter
    def _had_eager_eval(self, v: bool) -> None:
        self._tls.had_eager_eval = v

    # -- public API -------------------------------------------------------------

    def register_dataframe(self, name: str, df: DataFrame, keys: Optional[list] = None) -> None:
        """Expose an existing DataFrame (e.g. a parquet table) as a stored
        relation; keys default to all columns.

        Passing ``keys`` explicitly asserts the rows are unique on them
        (a primary key) — the translator then elides set-semantics dedup
        shuffles for key-preserving queries. Without ``keys`` the frame may
        contain duplicate rows, so no uniqueness is assumed."""
        from cozo_spark.datalog.ast import ColDef

        trusted = keys is not None
        keys = keys if keys is not None else df.columns
        kdefs = [ColDef(k) for k in keys]
        ndefs = [ColDef(c) for c in df.columns if c not in keys]
        self.relations[name] = StoredRelation(name, kdefs, ndefs, df,
                                              keys_trusted=trusted)

    def run_script(self, script: str, params: Optional[dict] = None) -> NamedRows:
        res = self.run_script_df(script, params)
        disp = getattr(self, "_entry_display_headers", None)
        self._entry_display_headers = None
        meta = ({"fixed_rules": dict(self._fixed_rule_run_info)}
                if getattr(self, "_fixed_rule_run_info", None) else {})
        if isinstance(res, (NamedRows, list)):
            # list = a %return with multiple results (imperative.rs returns
            # Vec<NamedRows>); each element is already collected
            if meta and isinstance(res, NamedRows) and not res.metadata:
                res.metadata = meta
            return res
        cols = res.columns
        if disp is not None and len(disp) == len(cols):
            cols = disp
        page = self.row_page_size
        if page:
            # paged materialization (NamedRows::next, db.rs:150-177):
            # toLocalIterator streams partitions to the driver, so at most
            # one page (+ one partition buffer) is resident; each `next`
            # access pulls the following page lazily
            import itertools

            it = (list(r) for r in res.toLocalIterator())

            def make_page(carry: list) -> NamedRows:
                chunk = carry + list(itertools.islice(it, page - len(carry)))
                look = list(itertools.islice(it, 1))
                nr = NamedRows(cols, chunk, metadata=meta)
                if look:
                    nr._next_fn = lambda: make_page(look)
                return nr

            return make_page([])
        rows = [list(r) for r in res.collect()]
        return NamedRows(cols, rows, metadata=meta)

    def last_fixed_rule_info(self) -> dict:
        """Plan-mode facts recorded by fixed rules during the most recent
        program evaluation, keyed by rule name — e.g. whether a centrality
        Dist rule ran exact or pivot-sampled (and with how many pivots),
        or which side of the Louvain size gate executed. Same payload as
        ``NamedRows.metadata['fixed_rules']``; empty dict when the last
        program ran no mode-recording rule. (r9, VERDICT r8 #6 — the
        approximation must be visible to PROGRAMS, not only in logs.)"""
        return dict(getattr(self, "_fixed_rule_run_info", {}) or {})

    def run_script_read_only(self, script: str, params: Optional[dict] = None) -> NamedRows:
        """Reject scripts with mutation side effects (db.rs:422-430).
        Static check on the parsed form, plus a dynamic guard for
        imperative / grouped scripts whose inner blocks re-enter
        run_script."""
        parsed = parse_script(script, params)
        if isinstance(parsed, Program) and parsed.opts.store_op:
            raise QueryError("script is not read-only")
        if isinstance(parsed, dict) and parsed.get("sysop") not in (
                "relations", "columns", "indices", "describe", "explain",
                "fixed_rules", "show_triggers", "running"):
            raise QueryError("sys op is not read-only")
        saved = getattr(self, "_read_only", False)
        self._read_only = True
        try:
            return self.run_script(script, params)
        finally:
            self._read_only = saved

    def evaluate_expressions(self, expr_src: str, params: Optional[dict] = None):
        """Expression-only mini-evaluator (db.rs:1878-1927)."""
        from cozo_spark.datalog.parser import Parser

        p = Parser(expr_src, params)
        e = p.parse_expr()
        if not p.done():
            raise QueryError(f"trailing input after expression: {p.peek()}")
        from cozo_spark.datalog.translate import compile_expr

        row = self.spark.range(1).select(compile_expr(e, set()).alias("v")).collect()
        return row[0]["v"]

    def register_fixed_rule(self, name: str, fn) -> None:
        """User-registrable UDTF surface (Db::register_fixed_rule,
        db.rs:760-788): fn(inputs: list[DataFrame], options: dict) -> DataFrame."""
        from cozo_spark.fixed_rules import register_fixed_rule

        register_fixed_rule(name, fn)

    def unregister_fixed_rule(self, name: str) -> bool:
        """Db::unregister_fixed_rule (db.rs:779-784) — drops a user rule;
        builtins are protected. Returns whether a rule was removed."""
        from cozo_spark.fixed_rules import unregister_fixed_rule

        return unregister_fixed_rule(name)

    def export_relations(self, names: list) -> dict:
        """::export analogue — JSON-able {rel: {headers, rows}} (db.rs:448-530)."""
        from cozo_spark.sources.readers import export_relations

        return export_relations(self, names)

    def import_relations(self, payload: dict) -> None:
        """::import analogue (db.rs:531-620)."""
        from cozo_spark.sources.readers import import_relations

        import_relations(self, payload)

    def backup(self, path: str) -> None:
        """Backup the database. A ``.db``/``.sqlite``/``.sqlite3`` path
        writes the REFERENCE'S sqlite backup format (backup_db,
        db.rs:642-660; one `cozo(k,v)` table of memcomparable keys +
        msgpack values) — an actual CozoDB can restore_backup() the file.
        Any other path is the scale-out parquet snapshot (executor-side
        writes, one dataset per relation)."""
        if path.endswith((".db", ".sqlite", ".sqlite3")):
            from cozo_spark.sources.cozo_backup import write_cozo_backup

            write_cozo_backup(self, path)
            return
        from cozo_spark.sources.readers import backup_parquet

        backup_parquet(self, path)

    def restore(self, path: str) -> None:
        """Restore relations (schema, data, triggers, access levels) from a
        backup. Detects the format by content: a sqlite file with the
        reference's `cozo` table restores via the real-Cozo decoder
        (restore_backup, db.rs:661-686 — empty target only); otherwise the
        parquet snapshot directory layout."""
        from cozo_spark.sources.cozo_backup import (
            is_cozo_sqlite_backup, restore_cozo_backup,
        )

        if is_cozo_sqlite_backup(path):
            restore_cozo_backup(self, path)
            return
        from cozo_spark.sources.readers import restore_parquet

        restore_parquet(self, path)

    def persist_relation(self, name: str, buckets: int = 64) -> None:
        """Materialize a stored relation as a bucketed+sorted parquet table
        on its primary key and serve subsequent scans from it.

        The cluster-scale layout decision the reference gets for free from
        its B-tree primary keys: every later join/aggregation on the PK runs
        exchange-free (plans/scale.py, asserted by join_is_exchange_free).
        Mutations keep working — they rebuild the in-memory DataFrame view;
        call persist_relation again to re-materialize after bulk loads."""
        from cozo_spark.plans.scale import bucketed, save_bucketed

        rel = self.relations.get(name)
        if rel is None:
            raise QueryError(f"stored relation {name!r} not found")
        if not rel.key_names:
            raise QueryError(f"relation {name!r} has no key columns")
        table = f"cozo_bucketed_{name}"
        save_bucketed(rel.df, table, rel.key_names, buckets)
        with rel.lsm_lock:  # an in-flight async compaction must not install
            rel.df = bucketed(self.spark, table)
            rel.pending_merges = 0
            rel.lsm_base, rel.lsm_pending, rel.lsm_rows = None, [], 0
            rel.lsm_base_layers = 0

    def multi_transaction(self, write: bool = True) -> "MultiTransaction":
        """Interactive multi-statement transaction (run_multi_transaction,
        db.rs:298-397): queries see staged state; commit swaps atomically."""
        return MultiTransaction(self, write)

    def run_script_df(self, script: str, params: Optional[dict] = None):
        """Like run_script but returns the result DataFrame when the script is
        a pure query (lets callers keep the plan lazy).

        Pure deterministic queries go through a compiled-plan cache
        (prepared-statement reuse): translating CozoScript to a DataFrame
        plan costs ~1000 py4j round-trips, and re-running the same script
        against the same registered frames rebuilds an identical lazy plan.
        The cache returns the previously built (still lazy, still
        re-executed on every action) DataFrame. Entries are invalidated by
        the state of the relations the plan READ (see _read_stamps — a
        write to an unrelated relation keeps them), fixed-rule registry
        changes, and params. Programs whose EVALUATION already ran Spark
        jobs (recursive fixpoints, eager fixed rules) are never cached, so
        a cache hit never skips real work — only plan construction."""
        parsed = parse_script(script, params)
        if isinstance(parsed, dict) and "sysop" in parsed:
            return self._run_sysop(parsed)
        if isinstance(parsed, Program):
            key = self._plan_cache_key(script, params, parsed)
            if key is not None:
                hit = self._plan_cache_get(key)
                if hit is not None:
                    self._entry_display_headers = hit[1]
                    return hit[0]
                if params:
                    # prepared-statement path: a $param-ized script misses
                    # the per-value cache on every new value; reuse the
                    # param-free plan skeleton and bind values cheaply
                    res = self._run_prepared(script, params, parsed, key)
                    if res is not None:
                        return res
            self._had_eager_eval = False
            pre = self._version_map()
            with self._recording_reads() as reads:
                res = self._run_program(parsed)
            if (key is not None and not self._had_eager_eval
                    and isinstance(res, DataFrame)
                    and self._unchanged_since(pre, reads)):
                # version guard: a concurrent writer mutating a relation
                # this plan read DURING its evaluation would make the
                # put-time stamps postdate the plan — recording it would
                # let a later same-state get hit a stale plan. Skip
                # caching instead (r11).
                self._plan_cache_put(key, res, reads)
            return res
        # imperative program
        from cozo_spark.datalog.imperative import run_imperative
        return run_imperative(self, parsed)

    def _version_map(self) -> dict:
        return {n: (r.created_seq, r.version)
                for n, r in self.relations.items()}

    def _unchanged_since(self, pre: dict, reads) -> bool:
        """True if no relation named in ``reads`` was created, dropped or
        written since ``pre`` (a _version_map)."""
        cur = self._version_map()
        return all(pre.get(n) == cur.get(n) for n in reads)

    # Fixed rules whose plan construction is lazy AND whose output is a
    # deterministic function of their inputs/options — safe to serve from
    # the compiled-plan cache. Eager rules (graph algorithms that count
    # edges to pick a strategy, DedupClusters' iterative propagation,
    # KeywordTopK's corpus count) and anything user-registered stay
    # uncached so a "hit" never hides executed work.
    _CACHEABLE_FIXED_RULES = frozenset({
        "ReorderSort", "Constant", "CsvReader", "JsonReader",
        "HtmlStrip", "UrlDedup", "MinHashPairs", "NgramContamination",
        "PackSequences", "QualityScores", "LanguageId", "PiiRedact",
        "RepetitionSignals", "BalancedSample",
        # DegreeCentrality builds one pure lazy plan (inline-explode +
        # groupBy, graphs.py) — no strategy count, no jobs at plan time —
        # so the compiled-plan cache applies like any other lazy rule
        # (r11; the _had_eager_eval guard would refuse the entry anyway if
        # that ever changed)
        "DegreeCentrality",
    })
    _PLAN_CACHE_MAX = 64
    # key -> entry dict (df, headers + _entry_validity fields); both this
    # and _skel_cache are least-recently-used: a hit moves the entry to
    # the end, and the front is evicted past _PLAN_CACHE_MAX. Both are
    # CLASS-level, shared by every CozoDb: each analytics query builds a
    # fresh CozoDb over the same registered frames (cozo_spark.queries),
    # and its plans hit the entries an earlier instance built. Sharing is
    # safe because an entry is checked against its session and the
    # stamps of the relations it read, frames compared by identity
    # (_entry_valid).
    _plan_cache: "_OrderedDict" = _OrderedDict()
    _plan_cache_lock = _threading.Lock()

    def _plan_cache_key(self, script: str, params: Optional[dict],
                        prog: Program):
        """None = not cacheable. The key carries the script text, params,
        and fixed-rule registry version; the session and the relations the
        plan read are checked against the entry's stamps at hit time
        (_entry_valid)."""
        import cozo_spark.fixed_rules as _fr

        o = prog.opts
        if (o.store_op or o.assert_kind or o.returning
                or o.timeout is not None):
            return None
        if self.temp_relations:
            return None
        for rule in prog.rules.values():
            if isinstance(rule, ConstRule):
                if expr_nondet(rule.expr):
                    return None
            elif isinstance(rule, FixedApply):
                if rule.rule_name not in self._CACHEABLE_FIXED_RULES:
                    return None
                if any(expr_nondet(v) for v in rule.options.values()):
                    return None
            else:
                for cl in rule:
                    if any(isinstance(h, HeadAggr) and h.aggr == "choice_rand"
                           for h in cl.head):
                        return None
                    if any(_atom_nondet(a) for a in cl.body):
                        return None
        try:
            params_key = repr(sorted((params or {}).items()))
        except Exception:
            return None
        return (script, params_key, _fr.REGISTRY_VERSION)

    # -- per-relation plan validity ---------------------------------------------
    #
    # A cached plan or skeleton depends only on the relations its
    # translation READ. Translation reaches the registry through exactly four
    # methods — _resolve_relation, _resolve_keys, _resolve_trusted_keys and
    # _search — which note each name into the calling thread's active
    # recording (_recording_reads). An entry stamps every recorded name
    # (_read_stamps), including names that were absent, so creating such a
    # relation later invalidates it too; a write to any other relation
    # leaves the entry hittable. Without an active recording (e.g. a direct
    # _build_skeleton call) an entry conservatively stamps every relation.

    @_contextmanager
    def _recording_reads(self):
        """Collect the relation names translation reads on this thread;
        a nested recording also reports its names to the outer one."""
        outer = getattr(self._tls, "reads", None)
        reads: set = set()
        self._tls.reads = reads
        try:
            yield reads
        finally:
            self._tls.reads = outer
            if outer is not None:
                outer |= reads

    def _note_read(self, name: str) -> None:
        reads = getattr(self._tls, "reads", None)
        if reads is not None:
            reads.add(name)

    def _rel_stamp(self, name: str):
        """What a plan compiled against relation ``name`` depends on: the
        RAW flat_df (held strongly, compared by identity — reading the
        ``df`` property would force a lazy view rebuild; a CozoDb holding
        the same frame may share the entry), the LOGICAL version (bumped by
        put/rm/update/import; content-preserving swaps such as compaction
        installs change the frame instead), keys,
        key trust, access level and index set (the last three change read
        semantics without swapping the frame). None = absent. The lazy
        view's dirty flag is deliberately NOT stamped: an interleaving fuzz
        caught an entry recorded mid-evaluation as (frame, dirty) matching
        a LATER dirty state with a newer pending delta — (frame, version)
        identifies a state, (frame, dirty) does not."""
        rel = self.relations.get(name)
        if rel is None:
            return None
        return (rel.flat_df, (rel.version, tuple(c.name for c in rel.keys),
                              rel.keys_trusted, rel.access_level,
                              tuple(sorted(rel.indices))))

    def _read_stamps(self, reads=None) -> tuple:
        names = self.relations if reads is None else reads
        return tuple((n, self._rel_stamp(n)) for n in sorted(names))

    def _stamp_current(self, name: str, stamp) -> bool:
        cur = self._rel_stamp(name)
        if stamp is None or cur is None:
            return stamp is cur
        return stamp[0] is cur[0] and stamp[1] == cur[1]

    def _entry_validity(self, reads=None) -> dict:
        """The fields every cache entry carries for its hit-time check;
        ``reads`` defaults to the thread's active recording."""
        if reads is None:
            reads = getattr(self._tls, "reads", None)
        return {"spark": self.spark, "reads": self._read_stamps(reads),
                "db": id(self)}

    def _entry_valid(self, ent: dict) -> bool:
        if ent["spark"] is not self.spark or self.temp_relations:
            return False
        return all(self._stamp_current(n, st) for n, st in ent["reads"])

    @staticmethod
    def _lru_get(cache, key):
        """Caller holds _plan_cache_lock."""
        ent = cache.get(key)
        if ent is not None:
            cache.move_to_end(key)
        return ent

    def _lru_put(self, cache, key, ent) -> None:
        with CozoDb._plan_cache_lock:
            cache[key] = ent
            cache.move_to_end(key)
            while len(cache) > self._PLAN_CACHE_MAX:
                cache.popitem(last=False)

    def _plan_cache_get(self, key):
        with CozoDb._plan_cache_lock:
            ent = self._lru_get(CozoDb._plan_cache, key)
        if ent is None or not self._entry_valid(ent):
            return None
        return ent["df"], ent["headers"]

    def _plan_cache_put(self, key, df: DataFrame, reads: set) -> None:
        ent = {"df": df, "headers": self._entry_display_headers,
               **self._entry_validity(reads)}
        self._lru_put(CozoDb._plan_cache, key, ent)

    def _sweep_stale_plan_entries(self, name: str) -> None:
        """Drop this db's cached plans/skeletons that read relation
        ``name`` and no longer match it. The hit-time check already makes
        them unhittable after a mutation — but until LRU eviction their
        strong refs pin the OLD checkpoint lineage (localCheckpoint blocks
        stay persisted while referenced), which is real executor storage
        for a big relation. Called on the write path; pure-Python, no
        py4j. Entries that never read ``name`` stay. Scoped by the
        RECORDING db's identity (entries carry id(db)) so sibling CozoDb
        instances on the same SparkSession — in particular a
        MultiTransaction's shadow db, whose relation names mirror the
        base's exactly — never have their live entries wiped by this db's
        mutations."""
        me = id(self)
        with CozoDb._plan_cache_lock:
            for cache in (CozoDb._plan_cache, CozoDb._skel_cache):
                stale = [k for k, e in cache.items() if e["db"] == me
                         and any(n == name and not self._stamp_current(n, st)
                                 for n, st in e["reads"])]
                for k in stale:
                    del cache[k]

    # -- prepared statements --------------------------------------------------------
    #
    # A $param-ized script compiles to a plan that differs per value only in
    # Literal leaves, but Spark DataFrames are analyzed eagerly, so a cached
    # plan's literals cannot be swapped after the fact. The reference
    # re-parses a parametrized script on every call (runtime/db.rs
    # run_script params); here it is parsed once with params DEFERRED (Param
    # AST nodes) and compiled once into a hoisted SKELETON, for
    # non-recursive programs with a single-clause entry rule. _hoist_entry
    # lifts every param out of the entry body (support rules first migrate
    # theirs to the entry, _hoist_support_params): a whole condition
    # becomes a residual predicate, a column binding becomes a fresh
    # "pinned" var plus an equality residual, a unification becomes a
    # bind-time column or a filter. The param-free remainder compiles once
    # into the body's RAW match stream — a multiset with one column per
    # variable, one translation per disjunct, unioned (~1000 py4j
    # round-trips). A bind adds the computed columns, filters by the
    # residuals, and then either aggregates with group and aggregation
    # Columns built at compile time or projects the head and restores set
    # semantics (a few dozen py4j calls). Catalyst re-optimizes the bound
    # plan per action, so the literal equality still reaches the parquet
    # scan as a pushed filter.
    #
    # Hoisting is SOUND because the residuals are pure row predicates over
    # the body's bindings: they commute with joins, anti-joins and
    # deterministic unification on the multiset stream, and the aggregation
    # or the set-semantics distinct comes after them, exactly where the
    # unprepared evaluation applies it. Params under negation, disjunction
    # or search, in aggregation arguments, or nested in an argument
    # expression are not hoisted.
    #
    # Key-aware binding: the set-semantics distinct is a shuffle and a Spark
    # job per call. It is skipped when a unique key of the body stream
    # (ClauseTranslator.last_ukeys; single-disjunct bodies only — a union of
    # disjuncts carries no key) lies within the head plus the pinned vars,
    # each filtered to ONE value by raw Column equality — the key-FD elision
    # the unprepared path applies to `{col: <const>}`. A user-written
    # `x == $p` never pins (Cozo's `==` equates 115 and 115.0, which are
    # distinct keys).
    #
    # Every other $param script — recursion-reaching or unhoistable — caches
    # an "ineligible" marker entry under the same LRU (key ("ineligible",
    # skeleton key)), so later calls skip the build attempt and run the
    # ordinary parse -> magic rewrite -> translate -> evaluate path, where
    # the per-value plan cache serves repeats of lazily evaluated programs.
    # A build that fails to EVALUATE (_SKEL_RETRY) caches nothing, since
    # the relation state may change.
    #
    # Validity: skeletons and per-value plans are each stamped
    # with only the relations their translation read (see
    # _recording_reads), so a write to an unrelated relation leaves them
    # hittable and sweeps only the entries that read the written relation.

    # (script, param names, registry ver) -> entry; LRU like _plan_cache and
    # class-level for the same reason
    _skel_cache: "_OrderedDict" = _OrderedDict()

    def _skel_key(self, script: str, params: dict):
        import cozo_spark.fixed_rules as _fr
        return (script, tuple(sorted(params)), _fr.REGISTRY_VERSION)

    def _skel_cache_put(self, script: str, params: dict, ent: dict) -> dict:
        ent.update(self._entry_validity())
        self._lru_put(CozoDb._skel_cache, self._skel_key(script, params), ent)
        return ent

    def _run_prepared(self, script: str, params: dict, parsed: Program,
                      key) -> Optional[DataFrame]:
        """None = not eligible (caller runs the normal path)."""
        skey = self._skel_key(script, params)
        nkey = ("ineligible", skey)  # the marker's key
        with CozoDb._plan_cache_lock:
            ent = self._lru_get(CozoDb._skel_cache, skey)
            if ent is None and self._lru_get(CozoDb._skel_cache, nkey):
                return None
        pre = self._version_map()
        if ent is not None and not self._entry_valid(ent):
            ent = None
        with self._recording_reads() as reads:
            if ent is None:
                ent = self._build_skeleton(script, params)
                if ent is None:
                    # structural: independent of relation state, never
                    # swept (no db) and evicted like any other entry
                    self._lru_put(CozoDb._skel_cache, nkey,
                                  {"ineligible": True, "db": None,
                                   "reads": ()})
                    return None
                if ent is _SKEL_RETRY:
                    return None
                if not self._unchanged_since(pre, reads):
                    # a concurrent mutation of a relation the skeleton read
                    # landed mid-build: the recorded stamps postdate some
                    # cached translations, so a later same-state get could
                    # hit a stale skeleton. Serve this call from the fresh
                    # build but drop the cache write (same guard as the
                    # per-value plan cache, r11).
                    with CozoDb._plan_cache_lock:
                        CozoDb._skel_cache.pop(skey, None)
            self._had_eager_eval = False
            res = self._bind_skeleton(ent, params, parsed)
        reads.update(n for n, _ in ent["reads"])
        if (isinstance(res, DataFrame) and not self._had_eager_eval
                and self._unchanged_since(pre, reads)):
            # same-value repeats then hit the exact per-value cache first
            # (same policy as run_script_df, including the eager-evaluation
            # and mid-evaluation mutation guards)
            self._plan_cache_put(key, res, reads)
        return res

    def _build_skeleton(self, script: str, params: dict):
        """Compile a $param-ized script once into a hoisted skeleton
        (cached and returned), None when it does not apply, or _SKEL_RETRY
        when evaluation failed for a state-dependent reason."""
        try:
            dprog = parse_script(script, params, defer_params=True)
        except Exception:
            return None  # e.g. `:limit $n` needs a const at parse time
        if not (isinstance(dprog, Program)
                and isinstance(dprog.rules.get("?"), (list, ConstRule))):
            return None
        # ANY recursion would make the skeleton's evaluation eager (the
        # fixpoint runs at build time) and therefore uncacheable — and a
        # hoisted param would strip the magic seed, computing a full
        # UNRESTRICTED closure. Such scripts, and every shape _hoist_entry
        # refuses, take the ordinary path: the per-call parse carries the
        # value, so the magic rewrite seeds the recursion with it.
        hoisted = (None if _reaches_recursion(dprog.rules)
                   else _hoist_entry(dprog))
        if hoisted is None:
            return None
        rules, head, body, cols, residuals, computed, pinned = hoisted
        # evaluate the support rules once (lazy plans), then translate the
        # entry body raw with the rewrites _eval_scc gives a non-recursive
        # entry (DNF expansion, _window_fuse)
        support = Program(rules={r: v for r, v in rules.items() if r != "?"},
                          opts=OutOpts())
        stream = [HeadVar(v) for v in cols]
        self._had_eager_eval = False
        try:
            stores = self._evaluate_rules(support)
            clauses, ov = self._window_fuse(
                "?", [RuleClause(stream, conj)
                      for conj in expand_disjunctions(body)],
                support, self._clause_map(support), stores)
            tr = self._translator(stores, ov)
            parts = [tr.translate(stream, cl.body, raw=True).toDF(*cols)
                     for cl in clauses]
        except QueryError:
            return _SKEL_RETRY  # state-dependent failure: not structural
        if self._had_eager_eval:
            # a support rule ran Spark jobs (eager fixed rule): the skeleton
            # cannot be cached, so every call would rebuild it
            return None
        raw = parts[0]
        for p in parts[1:]:
            raw = raw.unionByName(p)
        dtypes = dict(raw.dtypes)
        headers = self._entry_headers(dprog)
        ent = {
            "df": raw, "dtypes": dtypes, "residuals": tuple(residuals),
            "computed": tuple(computed), "pinned": frozenset(pinned),
            "ukeys": tr.last_ukeys if len(parts) == 1 else (),
            "head": tuple(headers), "group": None, "aggs": None,
            "display": None,
        }
        if any(isinstance(h, HeadAggr) for h in head):
            group, aggs, names = head_aggregates(
                head, [h.name if isinstance(h, HeadVar) else h.var
                       for h in head], dtypes.get, headers)
            ent.update(group=group, aggs=aggs, head=tuple(names),
                       display=headers if names != headers else None)
        return self._skel_cache_put(script, params, ent)

    @staticmethod
    def _bind_residuals(df: DataFrame, ent: dict, params: dict, bound: set,
                        typer) -> DataFrame:
        """Filter a skeleton frame by its hoisted residuals, bound to
        ``params``."""
        from cozo_spark.datalog.translate import compile_expr

        cond = None
        for r in ent["residuals"]:
            b = subst_params_expr(r, params)
            if (isinstance(b, Call) and b.fn == "eq"
                    and isinstance(b.args[0], Var)
                    and b.args[0].name in ent["pinned"]
                    and isinstance(b.args[1], Const)):
                # column-binding residual: RAW Column equality, exactly
                # what the unprepared path compiles for `{col: <const>}` —
                # compile_expr's eq would instead fold a type-mismatched
                # param to False statically, silently changing behavior
                # between the two paths. A user-written `x == $p` compiles
                # through compile_expr below, like its literal form.
                c = F.col(b.args[0].name) == F.lit(b.args[1].value)
            elif isinstance(b, Call) and b.fn == "__raw_eq":
                # hoisted bound-var unification (r9): raw Column equality
                # like the translator's `df.filter(col == F.col(var))`
                c = (compile_expr(b.args[1], bound, typer)
                     == F.col(b.args[0].name))
            else:
                c = compile_expr(b, bound, typer)
            cond = c if cond is None else (cond & c)
        return df if cond is None else df.where(cond)

    def _bind_skeleton(self, ent: dict, params: dict,
                       parsed: Program) -> DataFrame:
        from cozo_spark.datalog.translate import _df_typer, compile_expr

        df = ent["df"]
        bound = set(ent["dtypes"])
        typer = ent["dtypes"].get
        for y, e, multi in ent["computed"]:
            # bind-time column: the hoisted `y = <expr($p)>` unification
            # (r9) — 1:1 (or explode) on the raw multiset stream, BEFORE
            # the residual filters and the aggregation or distinct: the
            # unprepared evaluation order
            col = compile_expr(subst_params_expr(e, params), bound, typer)
            df = df.withColumn(y, F.explode(col) if multi else col)
            bound = bound | {y}
            typer = _df_typer(df)
        df = self._bind_residuals(df, ent, params, bound, typer)
        if ent["aggs"]:
            # compile-time Columns: groupBy.agg -> reorder select
            df = (df.groupBy(*ent["group"]).agg(*ent["aggs"]) if ent["group"]
                  else df.agg(*ent["aggs"]))
            df = df.select(*ent["head"])
        else:
            # restore set semantics — unless a unique key of the body
            # stream lies within the head and the pinned vars (each filtered
            # to one value above): then the rows are already a set and
            # distinct() would only add a shuffle
            df = df.select(*ent["head"])
            keep = set(ent["head"]) | ent["pinned"]
            if (any(m for _, _, m in ent["computed"])
                    or not any(k <= keep for k in ent["ukeys"])):
                df = df.distinct()
        self._entry_display_headers = (list(ent["display"])
                                       if ent["display"] else None)
        return self._output_stage(df, parsed.opts, parsed)

    # -- program evaluation --------------------------------------------------------

    def _run_program(self, prog: Program) -> Any:
        if not prog.rules:
            # options-only script (e.g. bare `:create rel {...}`): unit seed
            seed = self.spark.range(1).select(F.lit(1).alias("__unit__"))
            return self._output_stage(seed, prog.opts, prog)
        stores = self._evaluate_rules(prog)
        if "?" not in stores:
            raise QueryError("program has no entry rule '?'")
        headers = self._entry_headers(prog)
        # `?[a, a]` is legal in the reference (positional tuples); DataFrame
        # columns must be unique, so later duplicates get a trailing
        # underscore — F.col references downstream bind to the first
        uniq = unique_names(headers)
        # NamedRows reports the ORIGINAL (possibly duplicated) names — the
        # reference's `as`-store duplicate check depends on seeing them
        self._entry_display_headers = headers if uniq != headers else None
        # `?[] <~ Rule(...)` / `?[] <- ...`: empty head = keep the rule's own
        # output columns (the reference's "all columns" shorthand)
        out = stores["?"].toDF(*uniq) if headers else stores["?"]
        return self._output_stage(out, prog.opts, prog)

    def _entry_headers(self, prog: Program) -> list:
        """Output headers = the entry rule's head names (rule stores are
        positional internally — inline rule relations are arity-only tuples,
        SURVEY §1.2 / data/program.rs)."""
        rule = prog.rules["?"]
        if isinstance(rule, list):
            head = rule[0].head
        else:
            head = rule.head
        names = []
        for h in head:
            # aggregate heads render as "aggr(var)" (the reference's header
            # form, which `as`-stores sanitize to aggr_var); duplicates of
            # PLAIN vars are kept verbatim — a standalone query tolerates
            # them, and the `as` construct rejects them (imperative.rs:352)
            n = h.name if isinstance(h, HeadVar) else f"{h.aggr}({h.var})"
            names.append(n)
        return names

    def _evaluate_rules(self, prog: Program) -> dict[str, DataFrame]:
        stores: dict[str, DataFrame] = {}
        self._fixed_rule_run_info = {}  # fresh per program (see
        #                                 _eval_fixed_rule / NamedRows.metadata)

        # '_' is the non-binding wildcard — it can never NAME an output
        # column (runtime/tests.rs do_not_unify_underscore: `?[_] := _ = 1`
        # is an error)
        for name, rule in prog.rules.items():
            heads = []
            if isinstance(rule, list):
                heads = [h for cl in rule for h in cl.head]
            elif isinstance(rule, (ConstRule, FixedApply)):
                heads = list(rule.head or [])
            for h in heads:
                hname = h.name if isinstance(h, HeadVar) else getattr(h, "var", None)
                if hname == "_":
                    raise QueryError(
                        f"rule {name!r}: '_' cannot appear in a rule head")

        clause_map = self._clause_map(prog)

        # goal-directed recursion: push caller constants into recursive rules
        # (magic.rs:55-642, restricted linear-transmission core — see magic.py)
        if not prog.opts.disable_magic_rewrite:
            from cozo_spark.datalog.magic import magic_restrict
            magic_restrict(prog, clause_map)

        # key positions of each rule store, for the translator's distinct
        # elision (key-FD tracking, translate.py): non-agg rule outputs are
        # deduplicated sets (all positions form a key); aggregated rules are
        # unique on their group-key (HeadVar) positions; const rules are
        # distinct-ed at evaluation; fixed-rule outputs make no claim
        self._rule_unique = {}
        for name, rule in prog.rules.items():
            if isinstance(rule, ConstRule):
                h = rule.head or []
                self._rule_unique[name] = frozenset(range(len(h))) if h else None
            elif isinstance(rule, list):
                head = clause_map[name][0].head if clause_map.get(name) else rule[0].head
                if any(isinstance(x, HeadAggr) for x in head):
                    self._rule_unique[name] = frozenset(
                        i for i, x in enumerate(head) if isinstance(x, HeadVar))
                else:
                    self._rule_unique[name] = frozenset(range(len(head)))

        # const and fixed rules evaluate eagerly (they depend only on stored
        # relations and other rules' results — fixed rules may reference rule
        # stores, so evaluate in dependency order below too)
        deps: dict[str, set] = {}
        neg_deps: dict[str, set] = {}
        aggr_rules = set()
        for name, rule in prog.rules.items():
            d, nd = set(), set()
            if isinstance(rule, list):
                for cl in clause_map[name]:
                    if any(isinstance(h, HeadAggr) for h in cl.head):
                        aggr_rules.add(name)
                    for atom in cl.body:
                        self._collect_deps(atom, prog, d, nd)
            elif isinstance(rule, FixedApply):
                for inp in rule.inputs:
                    if inp.kind == "rule":
                        d.add(inp.name)
            deps[name] = d & set(prog.rules)
            neg_deps[name] = nd & set(prog.rules)

        sccs = _condensation(set(prog.rules), deps)
        for scc in sccs:  # already topologically ordered, leaves first
            # stratification check: negation or normal-aggr dependency inside
            # an SCC is a cycle through negation/aggregation → reject
            if len(scc) > 1 or next(iter(scc)) in deps[next(iter(scc))]:
                for r in scc:
                    if neg_deps[r] & scc:
                        raise QueryError(f"negation cycle through rule {r!r} — unstratifiable")
                    if r in aggr_rules and not self._all_meet(clause_map.get(r, [])):
                        raise QueryError(
                            f"rule {r!r} uses non-meet aggregation inside recursion — unstratifiable")
            self._eval_scc(scc, prog, clause_map, stores)
        return stores

    @staticmethod
    def _clause_map(prog: Program) -> dict[str, list[RuleClause]]:
        """Inline rules normalized to DNF clause lists."""
        return {name: [RuleClause(cl.head, list(conj)) for cl in rule
                       for conj in expand_disjunctions(cl.body)]
                for name, rule in prog.rules.items()
                if isinstance(rule, list)}

    def _scc_read_outside(self, scc, prog, exclude: set) -> bool:
        """True if any rule outside `scc` (and outside `exclude`) references an
        SCC member — positively, under negation, or as fixed-rule input."""
        for rname, rule in prog.rules.items():
            if rname in scc or rname in exclude:
                continue
            d, nd = set(), set()
            if isinstance(rule, list):
                for cl in rule:
                    for atom in cl.body:
                        self._collect_deps(atom, prog, d, nd)
            elif isinstance(rule, FixedApply):
                d = {inp.name for inp in rule.inputs if inp.kind == "rule"}
            if (d | nd) & set(scc):
                return True
        return False

    def _collect_deps(self, atom, prog, pos: set, neg: set) -> None:
        if isinstance(atom, RuleApply):
            pos.add(atom.name)
        elif isinstance(atom, Negation):
            sub_pos: set = set()
            self._collect_deps(atom.atom, prog, sub_pos, neg)
            neg |= sub_pos
            pos |= sub_pos
        elif isinstance(atom, (Conj,)):
            for a in atom.atoms:
                self._collect_deps(a, prog, pos, neg)
        elif isinstance(atom, Disj):
            for a in atom.branches:
                self._collect_deps(a, prog, pos, neg)

    @staticmethod
    def _all_meet(clauses: list) -> bool:
        for cl in clauses:
            for h in cl.head:
                if isinstance(h, HeadAggr) and not AGGREGATIONS[h.aggr].is_meet:
                    return False
        return True

    def _eval_scc(self, scc: set, prog: Program, clause_map, stores) -> None:
        recursive = len(scc) > 1 or any(
            self._references(clause_map.get(r, []), r) for r in scc)
        if not recursive:
            name = next(iter(scc))
            rule = prog.rules[name]
            if isinstance(rule, ConstRule):
                stores[name] = self._eval_const_rule(rule)
            elif isinstance(rule, FixedApply):
                stores[name] = self._eval_fixed_rule(rule, stores)
            else:
                cls, ov = self._window_fuse(name, clause_map[name],
                                            prog, clause_map, stores)
                stores[name] = self._eval_clauses_once(
                    name, cls, stores, overrides=ov)
            return
        # recursive SCC: semi-naive fixpoint with delta substitution
        for r in scc:
            rule = prog.rules[r]
            if not isinstance(rule, list):
                raise QueryError(f"const/fixed rule {r!r} cannot be recursive")
        self._eval_recursive(scc, clause_map, stores, prog)

    # duplicate-insensitive head aggregations the join-back fuse may turn
    # into window functions (multiplicity of the match stream cannot matter)
    _WINFUSE_AGGRS = frozenset({"min", "max"})

    def _window_fuse(self, name: str, clauses: list, prog: Program,
                     clause_map: dict, stores: dict):
        """Fuse "single-clause min/max aggregation + join-back" into a
        window function over the aggregated store (r12, guide §2.4 — a
        window partitioned like a preceding aggregation needs no second
        pass; VERDICT r11 #7).

        Pattern, per consuming clause C of rule ``name``:

            y[k.., agg(v)] := x[a1..an]     # single clause, plain distinct
                                            # vars, every agg in {min,max}
            C: ..., x[b1..bm], y[g.., m..], ...

        where each group arg ``g`` of the y-application is the SAME var C
        binds at that key's position of x, and every agg var ``m`` is
        fresh in C's body. Then y holds one row per group of an
        aggregation over the very frame C already reads, and the
        join-back equals attaching ``agg(v) OVER (PARTITION BY keys)`` to
        x's resolved frame — computed BEFORE C's own filters, exactly
        like the separate store. min/max are duplicate-insensitive, so
        the match-stream-multiset subtlety of head aggregation cannot
        bite. The win: x's whole subtree executes ONCE instead of twice —
        Catalyst cannot dedupe it itself when x's plan carries
        nondeterministic expressions (e.g. ReorderSort's
        monotonically_increasing_id rank). Returns (clauses, overrides);
        on no match the originals come back untouched (pure fast path —
        any doubt bails to the ordinary join)."""
        out_clauses: list = []
        overrides: dict = {}
        changed = False
        for cl in clauses:
            body = list(cl.body)
            cl_changed = False
            for y_app in [a for a in body if isinstance(a, RuleApply)]:
                if not any(a is y_app for a in body):
                    continue  # consumed by an earlier fuse in this clause
                ydef = prog.rules.get(y_app.name)
                ycls = clause_map.get(y_app.name)
                if (not isinstance(ydef, list) or not ycls
                        or len(ycls) != 1 or y_app.name == name):
                    continue
                ycl = ycls[0]
                if len(ycl.body) != 1 or not isinstance(ycl.body[0], RuleApply):
                    continue
                x_app_y = ycl.body[0]
                xname = x_app_y.name
                if xname == y_app.name or xname not in stores:
                    continue
                xargs = x_app_y.args
                if (not all(isinstance(a, Var) for a in xargs)
                        or len({a.name for a in xargs if a.name != "_"})
                        != sum(1 for a in xargs if a.name != "_")):
                    continue
                # head: group HeadVars bound by xargs + min/max HeadAggrs
                pos_of = {a.name: i for i, a in enumerate(xargs)
                          if a.name != "_"}
                if len(y_app.args) != len(ycl.head):
                    continue
                groups: list = []   # (head_idx, x_pos)
                aggs: list = []     # (head_idx, aggr, x_pos_of_arg)
                ok = True
                for i, h in enumerate(ycl.head):
                    if isinstance(h, HeadVar):
                        if h.name not in pos_of:
                            ok = False
                            break
                        groups.append((i, pos_of[h.name]))
                    elif isinstance(h, HeadAggr):
                        if (h.aggr not in self._WINFUSE_AGGRS or h.extra
                                or h.var not in pos_of):
                            ok = False
                            break
                        aggs.append((i, h.aggr, pos_of[h.var]))
                    else:
                        ok = False
                        break
                if not ok or not aggs:
                    continue
                # exactly one x application in C, enough args for the keys
                x_apps_c = [a for a in body
                            if isinstance(a, RuleApply) and a.name == xname]
                if len(x_apps_c) != 1:
                    continue
                x_app_c = x_apps_c[0]
                for i, p in groups:
                    g = y_app.args[i]
                    if (not isinstance(g, Var) or g.name == "_"
                            or p >= len(x_app_c.args)
                            or x_app_c.args[p] != g):
                        ok = False
                        break
                if not ok:
                    continue
                # every agg output var must be BOUND only by the y atom —
                # reads in Cond/Unify expressions are the normal consumer
                # pattern and stay valid against the window column
                rest_vars = self._body_binding_names(
                    [a for a in body if a is not y_app])
                if rest_vars is None:  # unrecognized atom: bail, stay exact
                    continue
                mvars = []
                for i, _aggr, _p in aggs:
                    m = y_app.args[i]
                    if (not isinstance(m, Var) or m.name == "_"
                            or m.name in rest_vars
                            or any(m.name == mv for mv in mvars)):
                        ok = False
                        break
                    mvars.append(m.name)
                if not ok:
                    continue
                # build the window-augmented frame over x's store
                from pyspark.sql import Window as _W
                xf = stores[xname]
                cols = xf.columns
                if any(p >= len(cols) for _i, p in groups) or any(
                        p >= len(cols) for _i, _a, p in aggs):
                    continue
                part = [F.col(cols[p]) for _i, p in groups]
                win = _W.partitionBy(*part) if part else _W.partitionBy()
                wcols = []
                dts = dict(xf.dtypes)
                for j, (_i, aggr, p) in enumerate(aggs):
                    spec = AGGREGATIONS[aggr]
                    try:
                        c = spec.build(F.col(cols[p]), dtype=dts.get(cols[p]))
                    except TypeError:
                        c = spec.build(F.col(cols[p]))
                    wcols.append(c.over(win).alias(f"__wf{j}"))
                # deterministic per program position, so the compiled-plan
                # cache sees identical rewrites on identical scripts
                alias = f"__winfuse_{xname}_{len(overrides)}"
                overrides[alias] = xf.select("*", *wcols)
                new_args = (list(x_app_c.args)
                            + [Var("_")] * (len(cols) - len(x_app_c.args))
                            + [y_app.args[i] for i, _a, _p in aggs])
                body = [RuleApply(alias, new_args) if a is x_app_c
                        else a for a in body if a is not y_app]
                changed = cl_changed = True
            out_clauses.append(RuleClause(cl.head, body) if cl_changed else cl)
        if not changed:
            return clauses, None
        return out_clauses, overrides

    @staticmethod
    def _body_binding_names(atoms: list) -> Optional[set]:
        """Variable names occurring in BINDING positions of the atoms
        (positional/named apply args, Unify targets; negation bodies are
        over-approximated as binding to stay conservative). Reads inside
        Cond / Unify expressions are excluded — a window-fused column
        serves those identically. Returns None if an atom type is not
        recognized (callers must then stay exact)."""
        out: set = set()

        def walk(atom) -> bool:
            if isinstance(atom, (RuleApply, RelApply)):
                for a in atom.args:
                    if isinstance(a, Var):
                        out.add(a.name)
                    elif not isinstance(a, Const):
                        out.update(expr_vars(a))
                return True
            if isinstance(atom, NamedRelApply):
                for col, e in atom.pairs.items():
                    if e is None:
                        out.add(col)
                    else:
                        out.update(expr_vars(e))
                return True
            if isinstance(atom, Unify):
                out.add(atom.var)
                return True
            if isinstance(atom, Cond):
                return True
            if isinstance(atom, Negation):
                return walk(atom.atom)
            if isinstance(atom, Conj):
                return all(walk(a) for a in atom.atoms)
            if isinstance(atom, Disj):
                return all(walk(a) for a in atom.branches)
            return False

        for a in atoms:
            if not walk(a):
                return None
        return out

    def _references(self, clauses: list, name: str) -> bool:
        found = [False]

        def walk(atom):
            if isinstance(atom, RuleApply) and atom.name == name:
                found[0] = True
            elif isinstance(atom, Negation):
                walk(atom.atom)
            elif isinstance(atom, Conj):
                for a in atom.atoms:
                    walk(a)
            elif isinstance(atom, Disj):
                for a in atom.branches:
                    walk(a)

        for cl in clauses:
            for a in cl.body:
                walk(a)
        return found[0]

    # -- const / fixed rules ----------------------------------------------------------

    def _eval_const_rule(self, rule: ConstRule) -> DataFrame:
        data = const_eval(rule.expr)
        if not isinstance(data, list):
            raise QueryError("const rule body must evaluate to a list of tuples")
        names = [h.name for h in rule.head] if rule.head else None
        if not data:
            schema = T.StructType([T.StructField(n, T.StringType()) for n in (names or [])])
            return self.spark.createDataFrame([], schema)
        rows = [tuple(r) for r in data]
        width = len(rows[0])
        if names is not None and width != len(names):
            raise QueryError(
                f"const rule arity mismatch: head has {len(names)} columns, "
                f"rows have {width}")
        if any(len(r) != width for r in rows):
            raise QueryError("const rule rows have inconsistent arity")
        names = names or [f"_{i}" for i in range(width)]
        schema = self._infer_schema(rows, names)
        rows = [self._coerce_row(r, schema) for r in rows]
        return local_frame(self.spark, rows, schema).distinct()

    @staticmethod
    def _coerce_row(row, schema: T.StructType):
        """Mixed Int/Float constant columns unify to Float (documented
        divergence: the reference keeps 1 and 1.0 as distinct values in set
        semantics, value.rs:575-598; a single-typed Spark column cannot, and
        mixed-type columns are not exercised by the test corpus)."""
        def conv(v, dt):
            if v is None:
                return None
            if isinstance(dt, T.DoubleType) and isinstance(v, int) and not isinstance(v, bool):
                return float(v)
            if isinstance(dt, T.ArrayType) and isinstance(v, (list, tuple)):
                return [conv(x, dt.elementType) for x in v]
            return v
        return tuple(conv(v, f.dataType) for v, f in zip(row, schema.fields))

    @staticmethod
    def _infer_schema(rows, names) -> T.StructType:
        import datetime as _dt

        def infer(vals):
            tps = {type(v) for v in vals if v is not None}
            if tps <= {int}:
                return T.LongType()
            if tps <= {int, float}:
                return T.DoubleType()
            if tps <= {bool}:
                return T.BooleanType()
            if tps <= {str}:
                return T.StringType()
            if tps <= {_dt.datetime}:
                return T.TimestampType()
            if tps <= {_dt.date}:
                return T.DateType()
            if tps <= {bytes, bytearray}:
                return T.BinaryType()
            if tps <= {list, tuple}:
                flat = [x for v in vals if v is not None for x in v]
                return T.ArrayType(infer(flat) if flat else T.StringType())
            return T.StringType()

        fields = []
        for i, n in enumerate(names):
            fields.append(T.StructField(n, infer([r[i] for r in rows]), True))
        return T.StructType(fields)

    @staticmethod
    def _compile_default_col(c):
        """Compile a ColDef's default expression to a typed Column. A
        Validity default written as a 2-list ([floor(now()), true]) builds
        the (ts, is_assert) struct directly — array() would reject the
        mixed element types."""
        from cozo_spark.datalog.translate import compile_expr

        base = (c.typing or "").rstrip("?")
        if (base == "Validity" and isinstance(c.default, ListEx)
                and len(c.default.items) == 2):
            ts = compile_expr(c.default.items[0], set()).cast("long")
            ia = compile_expr(c.default.items[1], set()).cast("boolean")
            return F.struct(ts.alias("ts"), ia.alias("is_assert"))
        dcol = compile_expr(c.default, set())
        if c.typing:
            dcol = dcol.cast(_col_type(c.typing))
        return dcol

    @staticmethod
    def _norm_rule_bindings(bindings: list, where: str) -> list:
        """Positional fixed-rule input bindings: '_' becomes a fresh
        non-binding name per position; a REPEATED named variable is an error
        (strict_checks_for_fixed_rules_args, runtime/tests.rs:179-208 —
        PageRank(r[_, _]) is fine, PageRank(r[a, a]) is not)."""
        out, seen = [], set()
        for i, b in enumerate(bindings):
            if b == "_":
                out.append(f"__wild_{i}")
                continue
            if b in seen:
                raise QueryError(
                    f"fixed rule input {where}: duplicate binding {b!r}")
            seen.add(b)
            out.append(b)
        return out

    def _eval_fixed_rule(self, rule: FixedApply, stores) -> DataFrame:
        fn = get_fixed_rule(rule.rule_name)
        inputs = []
        for inp in rule.inputs:
            if inp.kind == "rule":
                if inp.name not in stores:
                    raise QueryError(f"fixed rule input {inp.name!r} not yet evaluated")
                store = stores[inp.name]
                if inp.bindings:
                    if len(inp.bindings) != len(store.columns):
                        raise QueryError(
                            f"fixed rule input {inp.name!r}: {len(inp.bindings)} bindings "
                            f"for arity {len(store.columns)}")
                    store = store.toDF(*self._norm_rule_bindings(inp.bindings, inp.name))
                inputs.append(store)
            else:
                base = self._resolve_relation(inp.name)
                if base is None:
                    raise QueryError(f"relation {inp.name!r} not found")
                if inp.kind == "named_relation" and inp.bindings:
                    base = base.select(*[F.col(c).alias(v) for c, v in inp.bindings])
                elif inp.kind == "relation" and inp.bindings:
                    # positional bindings rename the first k columns — these
                    # names are what expression options (heuristic/weight/
                    # condition) see (get_binding_map, fixed_rule/mod.rs)
                    cols = base.columns
                    if len(inp.bindings) > len(cols):
                        raise QueryError(
                            f"fixed rule input {inp.name!r}: {len(inp.bindings)} bindings "
                            f"for arity {len(cols)}")
                    norm = self._norm_rule_bindings(inp.bindings, inp.name)
                    taken = set(norm)
                    tail = []
                    for c in cols[len(norm):]:
                        while c in taken:
                            c += "_"
                        taken.add(c)
                        tail.append(c)
                    base = base.toDF(*(norm + tail))
                inputs.append(base)
        options = {}
        for k, v in rule.options.items():
            try:
                options[k] = const_eval(v)
            except Exception:
                # non-constant option (e.g. DFS/BFS `condition:`, A*
                # `heuristic:`) — pass the expression AST through; the rule
                # compiles it against its node relation's columns
                options[k] = v
        from cozo_spark.fixed_rules import graphs as _graphs_info

        _graphs_info.take_run_info()  # clear stale channel state
        out = fn(inputs, options)
        info = _graphs_info.take_run_info()
        if info is not None:
            # expose plan-mode facts (exact vs sampled centrality, Louvain
            # gate dispatch) on the result: NamedRows.metadata and
            # CozoDb.last_fixed_rule_info() (r9, VERDICT r8 #6)
            if not hasattr(self, "_fixed_rule_run_info"):
                self._fixed_rule_run_info = {}
            self._fixed_rule_run_info[rule.rule_name] = info
        names = [h.name for h in rule.head]
        if names:
            if len(names) != len(out.columns):
                raise QueryError(
                    f"fixed rule {rule.rule_name} returns arity {len(out.columns)}, head wants {len(names)}")
            out = out.toDF(*names)
        return out

    # -- inline rule evaluation ----------------------------------------------------------

    def _make_resolver(self, stores: dict, overrides: Optional[dict] = None):
        def resolve(name: str) -> Optional[DataFrame]:
            if overrides and name in overrides:
                return overrides[name]
            if name in stores:
                return stores[name]
            return self._resolve_relation(name)

        return resolve

    def _translator(self, stores: dict,
                    overrides: Optional[dict] = None) -> ClauseTranslator:
        return ClauseTranslator(self.spark,
                                self._make_resolver(stores, overrides),
                                key_resolver=self._resolve_keys,
                                search_resolver=self._search,
                                rule_unique_resolver=self._resolve_rule_unique,
                                trusted_key_resolver=self._resolve_trusted_keys)

    def _resolve_keys(self, name: str) -> Optional[list]:
        self._note_read(name)
        rel = self.relations.get(name)
        return rel.key_names if rel else None

    def _resolve_trusted_keys(self, name: str) -> Optional[list]:
        """PK columns the rows are KNOWN unique on (distinct-elision gate)."""
        self._note_read(name)
        rel = self.relations.get(name)
        return rel.key_names if rel is not None and rel.keys_trusted else None

    def _resolve_rule_unique(self, name: str):
        """Key positions of a rule store (None = no uniqueness claim).
        `__rec_<rule>_<occ>` delta aliases inherit the base rule's claim —
        deltas and totals of the fixpoint are both deduplicated sets."""
        if name.startswith("__rec_"):
            name = name[len("__rec_"):].rsplit("_", 1)[0]
        elif name.startswith("__winfuse_"):
            # the window-fuse frame is the source store plus appended
            # window columns: same rows, so the source's key positions
            # (all < the source arity) keep their claim (r12)
            name = name[len("__winfuse_"):].rsplit("_", 1)[0]
        return getattr(self, "_rule_unique", {}).get(name)

    def _search(self, rel_name: str, idx_name: str, opts: dict,
                columns: list):
        from cozo_spark.operators import indices as IX

        self._note_read(rel_name)
        rel = self.relations.get(rel_name)
        if rel is None:
            raise QueryError(f"relation {rel_name!r} not found")
        return IX.search(self, rel, idx_name, opts, columns)

    def _resolve_relation(self, name: str) -> Optional[DataFrame]:
        if name.startswith("_"):
            return self.temp_relations.get(name)
        if ":" in name:
            # `*rel:idx{...}`: a regular index is a readable stored relation
            # whose columns are the index layout (tests.rs:455-516). As a
            # lazy projection it is always fresh; at scale it would be a
            # second sorted/bucketed materialization.
            rel_name, idx_name = name.split(":", 1)
            self._note_read(rel_name)
            rel = self.relations.get(rel_name)
            if rel is not None:
                idx = rel.indices.get(idx_name)
                if idx is not None and rel.access_level == "hidden":
                    raise QueryError(f"relation {rel_name!r} is hidden")
                if idx is not None and idx.kind == "regular" and idx.columns:
                    return rel.df.select(*idx.columns)
                if idx is not None and idx.kind == "hnsw":
                    # the proximity graph as a scannable edge relation
                    # (README v0.6: HNSW layers are regular graphs you can
                    # run whole-graph algorithms on)
                    from cozo_spark.operators import indices as IX

                    return IX.hnsw_graph_df(self, rel, idx_name)
            return None
        self._note_read(name)
        rel = self.relations.get(name)
        if rel is not None and rel.access_level == "hidden":
            # reads require >= ReadOnly (compile.rs:221) — hidden blocks them
            raise QueryError(f"relation {name!r} is hidden")
        return rel.df if rel else None

    @staticmethod
    def _canon(df: DataFrame) -> DataFrame:
        """Rule stores are positional (arity-only) — canonical column names."""
        return df.toDF(*[f"_c{i}" for i in range(len(df.columns))])

    def _eval_clauses_once(self, name, clauses, stores, overrides=None) -> DataFrame:
        tr = self._translator(stores, overrides)
        width = len(clauses[0].head)
        for cl in clauses[1:]:
            if len(cl.head) != width:
                raise QueryError(f"rule {name!r}: clauses disagree on arity")
        if any(isinstance(h, HeadAggr) for h in clauses[0].head):
            # all clause bodies feed ONE aggregation over the raw (multiset)
            # match stream — initial_rule_aggr_eval (eval.rs:381-506)
            # accumulates every clause's tuples into the same store
            from cozo_spark.datalog.translate import aggregate_head

            for cl in clauses[1:]:
                for h0, h in zip(clauses[0].head, cl.head):
                    if isinstance(h0, HeadAggr) != isinstance(h, HeadAggr) or (
                            isinstance(h0, HeadAggr) and h0.aggr != h.aggr):
                        raise QueryError(
                            f"rule {name!r}: clauses disagree on aggregations")
            raws = [tr.translate(cl.head, cl.body, raw=True) for cl in clauses]
            raw = raws[0]
            for p in raws[1:]:
                raw = raw.unionByName(p)
            return self._canon(aggregate_head(raw, clauses[0].head))
        parts, part_unique = [], []
        for cl in clauses:
            parts.append(self._canon(tr.translate(cl.head, cl.body)))
            part_unique.append(tr.last_unique)
        if len(parts) == 1 and part_unique[0]:
            # provably duplicate-free (key-FD tracking): skip the set-semantics
            # dedup shuffle entirely
            return parts[0]
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out.distinct()

    def _eval_recursive(self, scc, clause_map, stores, prog) -> None:
        """Semi-naive fixpoint (eval.rs:113-303). Per epoch, each clause that
        references a recursive rule runs once per such occurrence with that
        occurrence's store replaced by its delta (other occurrences see the
        running total); clauses referencing no recursive rule seed epoch 0.
        Meet-aggregation rules merge per epoch and emit changed rows as delta.
        A small SCC runs the same loop on the driver instead
        (``_eval_recursive_local``); ``_last_fixpoint_path`` records which
        loop ran and ``_last_fixpoint_epochs`` its epoch count.
        """
        # fixpoints run jobs NOW (checkpoint + count per epoch) — the
        # compiled-plan cache must not serve results that embed this work
        self._had_eager_eval = True
        totals: dict[str, Optional[DataFrame]] = {r: None for r in scc}
        deltas: dict[str, Optional[DataFrame]] = {r: None for r in scc}
        meet = {r: any(isinstance(h, HeadAggr) for cl in clause_map[r] for h in cl.head)
                for r in scc}

        # :limit early exit (QueryLimiter eval.rs:33-61, applied db.rs:1529-1539):
        # Datalog is monotone within a stratum, so any entry row derived from
        # *partial* recursive totals is in the final result — when the query is
        # unordered with a :limit, probe the entry rule against the running
        # totals each epoch and stop the whole fixpoint at limit+offset rows.
        # Sound only when: nothing but '?' reads this SCC (its totals stay
        # partial), '?' touches the SCC positively (no negation — that's
        # non-monotone), '?' has no normal aggregation (wrong over a partial
        # set), and all of '?'s other deps are already evaluated.
        early_stop_at = None
        entry_dep_rules: set = set()
        opts = getattr(prog, "opts", None)
        if (opts is not None and opts.limit is not None and not opts.sorters
                and opts.assert_kind is None):
            target = opts.limit + (opts.offset or 0)
            if not self._scc_read_outside(scc, prog, exclude={"?"}):
                # '?' can never sit inside a recursive SCC: the grammar
                # (reference cozoscript.pest:72,86) allows prog_entry '?'
                # only in rule heads, never body atoms, so no rule can read
                # it and close a cycle through it.
                if "?" in clause_map and "?" not in scc:
                    d, nd = set(), set()
                    for cl in clause_map["?"]:
                        for atom in cl.body:
                            self._collect_deps(atom, prog, d, nd)
                    entry_aggr = any(isinstance(h, HeadAggr)
                                     for cl in clause_map["?"] for h in cl.head)
                    entry_dep_rules = d & set(scc)
                    if (entry_dep_rules and not (nd & set(scc)) and not entry_aggr
                            and not any(meet.get(r, False) for r in entry_dep_rules)
                            and not ((d - set(scc)) - set(stores))):
                        early_stop_at = target

        # Small SCCs run on the driver (fixpoint.local_semi_naive; the gate
        # is in _eval_recursive_local): one collect per input instead of
        # about four Spark jobs per epoch. Decided before the static-side
        # materialization below, so a local run performs no checkpoint.
        # The Spark loop below handles every SCC the gate refuses, an armed
        # :limit early exit, and any input, total or candidate set over
        # fixpoint.LOCAL_FIXPOINT_MAX_ROWS.
        if early_stop_at is None and self._eval_recursive_local(
                scc, clause_map, stores):
            return
        self._last_fixpoint_path = "spark"

        # r11 (guide §2.4): a RECURSIVE clause re-executes the full plan of
        # every stored relation / lower-stratum rule it scans on EVERY
        # epoch (scan + flat-view derivation + distinct, once per epoch —
        # at scale that is diameter(G) redundant full scans). Materialize
        # each such input once per fixpoint and resolve reads through the
        # checkpointed blocks. Applications restricted by constants or a
        # validity spec are left lazy so their filters keep pushing down to
        # the scan (magic-set seeded recursions stay pruned).
        static_ck: dict = {}
        static_ck_rows: dict = {}
        # r12 (VERDICT r11 #2): a magic-SEEDED recursion restricts its
        # static reads through the magic join / seed filter, not through
        # constant args in the atom — the per-epoch scans touch only the
        # seed-reachable slice. Materializing the FULL static relation up
        # front would be a full-relation write where the rewrite's whole
        # point is to avoid touching it; keep every static side lazy for
        # magic-restricted SCCs so pushdown (and the seed bound) survive.
        _magic_bounded = bool(
            getattr(prog, "magic_restricted", None)
            and (set(scc) & prog.magic_restricted
                 or any(r.startswith("__magic_") for r in scc)))

        def _rel_reads(atom, out):
            if isinstance(atom, RelApply):
                restricted = (atom.validity is not None
                              or any(not isinstance(a, Var) for a in atom.args))
                out.append((atom.name, restricted, len(atom.args), set()))
            elif isinstance(atom, NamedRelApply):
                restricted = (atom.validity is not None
                              or any(v is not None and not isinstance(v, Var)
                                     for v in atom.pairs.values()))
                out.append((atom.name, restricted, 0, set(atom.pairs)))
            elif isinstance(atom, RuleApply):
                if atom.name not in scc:
                    out.append((atom.name,
                                any(not isinstance(a, Var) for a in atom.args),
                                len(atom.args), set()))
            elif isinstance(atom, Negation):
                _rel_reads(atom.atom, out)
            elif isinstance(atom, Conj):
                for a in atom.atoms:
                    _rel_reads(a, out)
            elif isinstance(atom, Disj):
                for a in atom.branches:
                    _rel_reads(a, out)

        _reads: list = []   # reads in RECURSIVE clauses: decide what to materialize
        _width: list = []   # reads in ALL SCC clauses: the width the checkpoint must keep
        for _r in scc:
            for _cl in clause_map.get(_r, []):
                rec = any(isinstance(a, RuleApply) and a.name in scc
                          for a in _cl.body)
                for a in _cl.body:
                    _rel_reads(a, _width)
                    if rec:
                        _rel_reads(a, _reads)
        _restricted = {nm for nm, rs, _np, _nc in _reads if rs}
        # width needs come from EVERY clause in the SCC — base (epoch-0)
        # clauses are translated against the same static_ck overrides as the
        # recursive ones, so a base clause reading more columns than the
        # recursive prefix must widen the materialization, not hit a pruned
        # frame ("too many arguments")
        _need: dict = {}
        for nm, _rs, n_pos, named in _width:
            cur = _need.setdefault(nm, [0, set()])
            cur[0] = max(cur[0], n_pos)
            cur[1] |= named
        for nm in dict.fromkeys(nm for nm, _rs, _np, _nc in _reads):
            if _magic_bounded or nm in static_ck or nm in _restricted:
                continue
            try:
                src = stores[nm] if nm in stores else self._resolve_relation(nm)
            except QueryError:
                src = None
            if src is None:
                continue
            # checkpoint only the columns the SCC's atoms can touch (the
            # positional prefix + named columns), keeping PK / uniqueness
            # columns so distinct-elision claims survive — a wide stored
            # relation (multi-KB payload columns) must not be materialized
            # at full width to serve a prefix read (r11 review finding;
            # guide §2.3 "project before the exchange")
            cols = src.columns
            n_pos, named = _need[nm]
            keep = set(cols[:n_pos]) | named
            if nm in stores:
                upos = self._resolve_rule_unique(nm)
                if upos:
                    keep |= {cols[i] for i in upos if i < len(cols)}
            else:
                for k in (self._resolve_keys(nm) or []):
                    keep.add(k)
            sel = [c for c in cols if c in keep]
            if sel and len(sel) < len(cols):
                src = src.select(*sel)
            # counted in the same materialization action: epoch 0 reuses
            # the count (and the blocks) when a base clause is a pure
            # projection of this relation — see _pure_projection_rows.
            # Deliberately NOT routed through fixpoint._checkpoint_count:
            # that one-arg function is the monkeypatch seam tests use to
            # count per-epoch DELTA materializations; a static-input
            # checkpoint (|relation| rows) must not pollute those counts
            # (r12 — VERDICT r11 #1). The Observation pattern is inlined
            # against THIS module's _checkpoint global so spies on
            # engine._checkpoint still see the materialization.
            from pyspark.sql import Observation
            from cozo_spark.datalog.fixpoint import _OBS_SEQ
            _obs = Observation(f"__cozo_sck_{next(_OBS_SEQ)}")
            static_ck[nm] = _checkpoint(
                src.observe(_obs, F.count(F.lit(1)).alias("n")))
            static_ck_rows[nm] = int(_obs.get["n"])

        def _entry_rows_reached() -> bool:
            if early_stop_at is None:
                return False
            if any(totals[r] is None for r in entry_dep_rules):
                return False
            probe = self._eval_clauses_once(
                "?", clause_map["?"], stores,
                overrides={r: totals[r] for r in scc if totals[r] is not None})
            if probe is None:
                return False
            return probe.limit(early_stop_at).count() >= early_stop_at

        def eval_rule(r: str, use_delta: bool) -> Optional[DataFrame]:
            parts = []
            for cl in clause_map[r]:
                rec_refs = [a for a in cl.body
                            if isinstance(a, RuleApply) and a.name in scc]
                if not rec_refs:
                    if not use_delta:  # base clauses only on epoch 0
                        parts.append((cl, None))
                    continue
                if use_delta:
                    # one evaluation per recursive occurrence with delta there
                    for occ_idx in range(len(rec_refs)):
                        parts.append((cl, occ_idx))
            outs = []
            for cl, occ in parts:
                overrides = dict(static_ck)
                skip = False
                occ_seen = -1
                body = []
                for a in cl.body:
                    if isinstance(a, RuleApply) and a.name in scc:
                        occ_seen += 1
                        target = deltas[a.name] if occ is not None and occ_seen == occ else totals[a.name]
                        if target is None:
                            skip = True
                            break
                        alias = f"__rec_{a.name}_{occ_seen}"
                        overrides[alias] = target
                        body.append(RuleApply(alias, a.args))
                    else:
                        body.append(a)
                if skip:
                    continue
                tr = self._translator(stores, overrides)
                outs.append((self._canon(tr.translate(cl.head, body)), tr.last_unique))
            if not outs:
                return None
            if len(outs) == 1 and outs[0][1]:
                return outs[0][0]
            out = outs[0][0]
            for p, _u in outs[1:]:
                out = out.unionByName(p)
            return out.distinct()

        # epoch 0: base clauses (checkpoint + count fused into one action).
        # When the base is a pure column projection/rename of an
        # already-materialized static input (the canonical TC shape
        # `reach[a,b] := *edge[a,b]` with distinct elided by uniqueness),
        # its rows ARE the checkpointed blocks: re-materializing them was a
        # whole extra driver action re-writing identical data (guide §1
        # "one action" — measured ~130 ms/action on the bench host).
        # Projections preserve row counts, so the static checkpoint's
        # observed count serves as the epoch-0 count with zero extra jobs.
        from cozo_spark.datalog.fixpoint import _checkpoint_count

        total_rows: dict[str, int] = {}
        for r in sorted(scc):
            base = eval_rule(r, use_delta=False)
            if base is not None:
                reused = _pure_projection_rows(base, static_ck, static_ck_rows)
                if reused is not None:
                    total_rows[r] = reused
                else:
                    base, total_rows[r] = _checkpoint_count(base)
            else:
                total_rows[r] = 0
            totals[r] = base
            deltas[r] = base
        # small-total novelty check: candidates are a set (distinct'd by
        # eval_rule), so left-anti on all columns (null-safe) == exceptAll —
        # and unlike exceptAll it takes a broadcast hint. While the running
        # total is small (row counts tracked driver-side from the per-epoch
        # delta counts), the anti side broadcasts and novelty costs zero
        # extra shuffles; past the threshold it degrades to a shuffle anti.
        from cozo_spark.datalog.fixpoint import _BROADCAST_FRONTIER, _anti_all_cols

        def _novel(cand: DataFrame, total: DataFrame, n_total: int) -> DataFrame:
            return _anti_all_cols(cand, total,
                                  broadcast=n_total < _BROADCAST_FRONTIER)

        # fixpoint loop
        self._last_fixpoint_epochs = 0
        for _epoch in range(self.MAX_FIXPOINT_EPOCHS):
            self._last_fixpoint_epochs = _epoch + 1
            any_delta = False
            new_totals = dict(totals)
            new_deltas = {}
            for r in sorted(scc):
                cand = eval_rule(r, use_delta=True)
                if cand is None:
                    new_deltas[r] = None
                    continue
                if meet[r]:
                    merged, changed, n_changed = self._meet_merge(
                        clause_map[r][0].head, totals[r], cand,
                        n_total=total_rows[r])
                    new_totals[r] = merged
                    new_deltas[r] = changed
                    # upper bound (changed includes improved existing keys):
                    # safe for the broadcast-threshold decision
                    total_rows[r] += n_changed
                    if n_changed > 0:
                        any_delta = True
                else:
                    if totals[r] is None:
                        fresh, n_fresh = _checkpoint_count(cand)
                    else:
                        fresh, n_fresh = _checkpoint_count(
                            _novel(cand, totals[r], total_rows[r]))
                    if n_fresh == 0:
                        new_deltas[r] = None
                        continue
                    any_delta = True
                    new_deltas[r] = fresh
                    total_rows[r] += n_fresh
                    # union of checkpoint leaves — the plan stays shallow
                    # without re-materializing the whole total every epoch
                    # (that's O(total·epochs) writes); a periodic checkpoint
                    # bounds plan width on long recursions
                    new_total = (totals[r].unionByName(fresh)
                                 if totals[r] is not None else fresh)
                    if (_epoch + 1) % 8 == 0:
                        new_total = _checkpoint(new_total)
                    new_totals[r] = new_total
            totals.update(new_totals)
            deltas.update(new_deltas)
            if not any_delta:
                break
            if _entry_rows_reached():
                break
        else:
            raise epochs_exceeded(self.MAX_FIXPOINT_EPOCHS)
        for r in scc:
            stores[r] = totals[r] if totals[r] is not None else self.spark.createDataFrame(
                [], T.StructType([]))

    def _eval_recursive_local(self, scc, clause_map, stores) -> bool:
        """Run the fixpoint of ``scc`` on the driver and set its stores, or
        return False, having set nothing, when the gate refuses it (see the
        fixpoint module docstring). Every check reads only the AST, the
        frames' schemas and the collected rows. Each input is collected
        once, capped at ``LOCAL_FIXPOINT_MAX_ROWS + 1`` rows: a base clause
        that is one plain atom, and every non-recursive atom of a recursive
        clause, reads a shared projection of its relation; other base
        clauses are evaluated by Spark and collected per rule."""
        from pyspark.errors import AnalysisException

        from cozo_spark.datalog.fixpoint import (
            LOCAL_FIXPOINT_MAX_ROWS as cap, LocalClause, LocalOverflow,
            local_semi_naive)

        if cap <= 0:
            return False

        def plain(a) -> bool:
            if isinstance(a, NamedRelApply):
                args = [x for x in a.pairs.values() if x is not None]
            elif isinstance(a, (RuleApply, RelApply)):
                args = a.args
            else:
                return False
            return (getattr(a, "validity", None) is None
                    and all(isinstance(x, (Var, Const)) for x in args))

        def recursive(a) -> bool:
            return isinstance(a, RuleApply) and a.name in scc

        for r in scc:
            cls = clause_map[r]
            if (len({len(cl.head) for cl in cls}) != 1
                    or not all(isinstance(h, HeadVar)
                               for cl in cls for h in cl.head)):
                return False
            for cl in cls:
                if (any(recursive(a) for a in cl.body)
                        and not all(plain(a) for a in cl.body)):
                    return False

        tr = self._translator(stores)
        frames: dict = {}   # input key -> frame to collect

        def shared_input(a, need: set):
            """(input key, clause variables) of a non-recursive atom: its
            frame with the variables renamed by first appearance and
            projected to those in ``need``, so atoms reading the same
            columns share one collect."""
            canon: dict = {}

            def rename(x):
                if isinstance(x, Var) and x.name != "_":
                    return Var(canon.setdefault(x.name, f"_l{len(canon)}"))
                return x

            if isinstance(a, NamedRelApply):
                ca = NamedRelApply(a.name, {
                    c: rename(Var(c) if x is None else x)
                    for c, x in a.pairs.items()})
                frame = tr._named_frame(ca)
            else:
                ca = type(a)(a.name, [rename(x) for x in a.args])
                frame = tr._positional_frame(ca)
            sel = tuple(c for v, c in canon.items() if v in need)
            key = (repr(ca), sel)
            if key not in frames:
                frames[key] = (frame.select(*sel) if sel else frame.select(
                    F.lit(1).alias("__exists__")).limit(1))
            back = {c: v for v, c in canon.items()}
            return key, tuple(back[c] for c in sel)

        # frames and types first (analysis only, no job), then the collects
        types: dict = {}       # rule -> column types
        spark_bases: dict = {}  # rule -> frame of its other base clauses
        local_bases: list = []  # (rule, input key, clause vars, head)
        plans: list = []       # (rule, clause, [RuleApply | (key, vars)])
        try:
            for r in sorted(scc):
                other = []
                for cl in clause_map[r]:
                    head = tuple(h.name for h in cl.head)
                    if any(recursive(a) for a in cl.body):
                        atoms = []
                        for i, a in enumerate(cl.body):
                            if recursive(a):
                                atoms.append(a)
                                continue
                            need = set(head)
                            for j, b in enumerate(cl.body):
                                if j != i:
                                    need |= _atom_ref_vars(b)
                            atoms.append(shared_input(a, need))
                        plans.append((r, cl, atoms))
                    elif len(cl.body) == 1 and plain(cl.body[0]):
                        key, vs = shared_input(cl.body[0], set(head))
                        if not set(head) <= set(vs):
                            return False
                        local_bases.append((r, key, vs, head))
                    else:
                        other.append(cl)
                if other:
                    spark_bases[r] = self._eval_clauses_once(r, other, stores)
                    types[r] = [f.dataType
                                for f in spark_bases[r].schema.fields]
        except (QueryError, AnalysisException):
            return False

        def col_types(key, vs) -> dict:
            schema = frames[key].schema
            return {v: schema[c].dataType for v, c in zip(vs, key[1])}

        if not all(_local_type(f.dataType) for df in frames.values()
                   for f in df.schema.fields if f.name != "__exists__"):
            return False
        for r, key, vs, head in local_bases:
            ct = col_types(key, vs)
            ht = [ct[h] for h in head]
            if types.setdefault(r, ht) != ht:
                return False
        if not all(_local_type(t) for ts in types.values() for t in ts):
            return False

        # recursive clauses, to a fixpoint of known types: a rule without
        # base clauses takes its column types from the first clause whose
        # recursive atoms all have them; a rule that never does never gets
        # rows (its store stays None, as in the Spark loop)
        def typed(plan) -> bool:
            return all(not isinstance(x, RuleApply) or x.name in types
                       for x in plan[2])

        clauses: dict = {r: [] for r in scc}
        pending = plans
        while any(typed(p) for p in pending):
            ready = [p for p in pending if typed(p)]
            pending = [p for p in pending if not typed(p)]
            for r, cl, atoms in ready:
                got = self._local_clause(cl, atoms, types, col_types)
                if got is None or types.setdefault(r, got[1]) != got[1]:
                    return False
                clauses[r].append(got[0])

        inputs: dict = {}
        for i, (key, df) in enumerate(frames.items()):
            got = collect_capped(df, cap)
            if got is None:
                return False
            inputs[key] = (set(got) if key[1] else {()} if got else set(), i)
        base: dict = {r: None for r in scc}
        for r, df in spark_bases.items():
            got = collect_capped(df, cap)
            if got is None:
                return False
            base[r] = set(got)
        for r, key, vs, head in local_bases:
            pos = [vs.index(h) for h in head]
            rows = {tuple(t[p] for p in pos) for t in inputs[key][0]}
            base[r] = rows if base[r] is None else base[r] | rows
        clauses = {r: [LocalClause(head, rec, tuple(
                       (vs, *inputs[key]) for key, vs in static))
                       for head, rec, static in cls]
                   for r, cls in clauses.items()}
        self._last_fixpoint_path = "local"
        try:
            totals, epochs = local_semi_naive(
                base, clauses, self.MAX_FIXPOINT_EPOCHS, cap)
        except LocalOverflow:
            return False
        self._last_fixpoint_epochs = epochs
        for r in scc:
            if totals[r] is None:
                stores[r] = local_frame(self.spark, [], T.StructType([]))
                continue
            schema = T.StructType([T.StructField(f"_c{i}", t, True)
                                   for i, t in enumerate(types[r])])
            stores[r] = local_frame(self.spark, list(totals[r]), schema)
        return True

    @staticmethod
    def _local_clause(cl, atoms, types, col_types):
        """``((head, RecAtoms, [(input key, vars)]), head column types)``
        for a recursive clause; None unless each variable binds columns of
        one type, each constant compared on the driver has its column's
        Python type and every head variable is bound."""
        from cozo_spark.datalog.fixpoint import RecAtom

        var_type: dict = {}

        def bind(v, t) -> bool:
            return var_type.setdefault(v, t) == t

        rec, static = [], []
        for a in atoms:
            if not isinstance(a, RuleApply):
                if not all(bind(v, t) for v, t in col_types(*a).items()):
                    return None
                static.append(a)
                continue
            ts = types[a.name]
            if len(a.args) > len(ts):
                return None
            names, cols, consts, eqs = [], [], [], []
            for pos, arg in enumerate(a.args):
                if isinstance(arg, Const):
                    if not _local_const(arg.value, ts[pos]):
                        return None
                    consts.append((pos, arg.value))
                elif arg.name != "_":
                    if not bind(arg.name, ts[pos]):
                        return None
                    if arg.name in names:
                        eqs.append((pos, cols[names.index(arg.name)]))
                    else:
                        names.append(arg.name)
                        cols.append(pos)
            rec.append(RecAtom(a.name, tuple(names), tuple(cols),
                               tuple(consts), tuple(eqs)))
        head = tuple(h.name for h in cl.head)
        if not all(h in var_type for h in head):
            return None
        # every type here came from a checked input column or rule column
        return (head, tuple(rec), tuple(static)), [var_type[h] for h in head]

    def _meet_merge(self, head, total: Optional[DataFrame], cand: DataFrame,
                    n_total: int = 0):
        """Merge candidate rows into a meet-aggregated total; return
        (merged_ck, changed_ck, n_changed) — the MeetAggrStore pattern
        (temp_store.rs:99-215). Operates on canonical positional columns
        (_c0.._cN).

        Both outputs come out of ONE action when every aggregation is in
        the null-ignoring meet family (min/max/and/or/bit_and/bit_or, plus
        sticky choice): the total holds exactly one row per key, so
        ``spec(value WHERE old)`` inside the same groupBy IS the previous
        value, and changed = "no old row, or some value differs
        (null-safe)" — the exact set the all-columns anti-join computed
        (keys are equal within a group by construction). Aggregations
        whose builders do not skip null inputs when wrapped in
        ``when(_old, v)`` (min_by-over-struct shapes: shortest, min_cost;
        collect shapes: union, intersection) keep the two-action
        merge-then-anti path — for them the fused old-value aggregate
        would be wrong, not just slower (r11; guide §1 "one action").
        The pre-r11 shape checkpointed merged and changed independently,
        executing the union+groupBy subtree twice per epoch (guide §2.4)."""
        keys = [f"_c{i}" for i, h in enumerate(head) if isinstance(h, HeadVar)]
        aggs = [(f"_c{i}", AGGREGATIONS[h.aggr])
                for i, h in enumerate(head) if isinstance(h, HeadAggr)]
        sticky = any(spec.name == "choice" for _, spec in aggs)
        _NULL_SKIPPING_MEETS = {"min", "max", "and", "or", "bit_and", "bit_or"}
        fused = total is not None and all(
            spec.name in _NULL_SKIPPING_MEETS or (spec.name == "choice" and sticky)
            for _, spec in aggs)
        # sticky: MeetAggrChoice (aggr.rs:968-984) only updates from Null —
        # once a key has a value it NEVER changes. Prefer the total's row
        # via a priority column; without this, min-as-choice keeps
        # "improving" and a path-building recursion churns forever.
        if fused:
            # tag provenance: __old marks the total's rows so the previous
            # value and the changed flag come out of the same aggregation
            tagged_total = (total.withColumn("__prio", F.lit(0))
                            if sticky else total).withColumn("__old", F.lit(True))
            tagged_cand = (cand.withColumn("__prio", F.lit(1))
                           if sticky else cand).withColumn("__old", F.lit(False))
            both = tagged_total.unionByName(tagged_cand)
        elif sticky:
            t = (total.withColumn("__prio", F.lit(0))
                 if total is not None else None)
            c = cand.withColumn("__prio", F.lit(1))
            both = c if t is None else t.unionByName(c)
        else:
            both = cand if total is None else total.unionByName(cand)
        dtypes = dict(both.dtypes)
        agg_exprs = []
        cmp_pairs = []  # (new_col, old_col) for the fused changed test
        for c_name, spec in aggs:
            if spec.name == "choice" and sticky:
                agg_exprs.append(
                    F.min_by(F.col(c_name),
                             F.struct(F.col("__prio"), F.col(c_name))).alias(c_name))
                # sticky: merged keeps the old value whenever one exists, so
                # the column can never differ when __oldcnt fires — excluded
                # from the comparison
                continue
            try:
                agg_exprs.append(spec.build(F.col(c_name), dtype=dtypes.get(c_name)).alias(c_name))
            except TypeError:
                agg_exprs.append(spec.build(F.col(c_name)).alias(c_name))
        from cozo_spark.datalog.fixpoint import (_BROADCAST_FRONTIER,
            _anti_all_cols, _checkpoint, _checkpoint_count, _checkpoint_sum)

        if fused:
            for c_name, spec in aggs:
                if spec.name == "choice" and sticky:
                    continue
                old_v = F.when(F.col("__old"), F.col(c_name))
                try:
                    oe = spec.build(old_v, dtype=dtypes.get(c_name))
                except TypeError:
                    oe = spec.build(old_v)
                agg_exprs.append(oe.alias(f"__oldv{c_name}"))
                cmp_pairs.append((c_name, f"__oldv{c_name}"))
            agg_exprs.append(
                F.max(F.when(F.col("__old"), F.lit(1))).alias("__oldcnt"))
            merged = (both.groupBy(*keys).agg(*agg_exprs)
                      if keys else both.agg(*agg_exprs))
            same = F.lit(True)
            for new_c, old_c in cmp_pairs:
                same = same & F.col(new_c).eqNullSafe(F.col(old_c))
            out_cols = [f"_c{i}" for i in range(len(head))]
            merged = merged.select(
                *out_cols,
                (F.col("__oldcnt").isNull() | ~same).alias("__chg"))
            merged, n = _checkpoint_sum(merged, "__chg")
            changed = merged.filter("__chg").select(*out_cols)
            return merged.select(*out_cols), changed, n

        merged = both.groupBy(*keys).agg(*agg_exprs) if keys else both.agg(*agg_exprs)
        merged = merged.select(*[f"_c{i}" for i in range(len(head))])
        if total is None:
            ck, n = _checkpoint_count(merged)
            return ck, ck, n
        # changed = merged rows not present in total: both are sets (one row
        # per key), so a null-safe left-anti == exceptAll, and the anti side
        # can broadcast while the total is small (same trick as _eval_recursive)
        merged = _checkpoint(merged)
        changed = _anti_all_cols(merged, total,
                                 broadcast=n_total < _BROADCAST_FRONTIER)
        changed, n = _checkpoint_count(changed)
        return merged, changed, n

    # -- output stage (db.rs:1455-1685) ---------------------------------------------------

    def _output_stage(self, df: DataFrame, opts: OutOpts, prog: Program):
        if opts.assert_kind == "none":
            if not df.isEmpty():
                raise QueryError("assertion failed: expected no results")
            return NamedRows(df.columns, [])
        if opts.assert_kind == "some":
            if df.isEmpty():
                raise QueryError("assertion failed: expected some results")
            return NamedRows(df.columns, [[True]])
        if opts.sorters:
            cols = []
            for s in opts.sorters:
                if s.var not in df.columns:
                    raise QueryError(f":order variable {s.var!r} not in output")
                cols.append(F.col(s.var).desc() if s.descending else F.col(s.var).asc())
            # ties resolve in stored-tuple order (the reference's rows arrive
            # sorted from the BTree and its sort is stable) — append the
            # remaining output columns ascending so :order (+ :limit) is
            # deterministic here too
            sorted_vars = {s.var for s in opts.sorters}
            ties = [F.col(c).asc() for c in df.columns if c not in sorted_vars]
            try:
                df = df.orderBy(*cols, *ties)
            except Exception:
                # unorderable column type (map/struct-of-map) in the output:
                # sort on the explicit keys only
                df = df.orderBy(*cols)
        if opts.offset:
            df = df.offset(opts.offset)
        if opts.limit is not None:
            df = df.limit(opts.limit)
        if opts.store_op:
            return self._execute_store_op(df, opts, prog)
        return df

    # -- stored relation mutations (query/stored.rs:44-206) ------------------------------

    # lazy mutation merges tolerated before a full re-materialization; keeps
    # single-row writes O(delta) while bounding read-plan depth
    _COMPACT_EVERY = 8

    def _set_merged(self, rel: StoredRelation, df: DataFrame) -> None:
        """Install a post-mutation state: the merge plan stays LAZY (the
        delta was already checkpointed, so the write cost is O(delta)); every
        _COMPACT_EVERY mutations the stacked plan is compacted into one
        materialization — the log-structured-merge shape of a scale-out
        store, vs. the previous rewrite-the-table-per-write. (The :update
        path and other wholesale swaps come through here; put/rm use the
        flat LSM view in _apply_lsm_delta instead.)"""
        with rel.lsm_lock:
            rel.pending_merges += 1
            rel.version += 1
            # df was derived from the CURRENT rel.df — the LSM bookkeeping no
            # longer describes it; the next put/rm re-seeds from the new df
            rel.lsm_base, rel.lsm_pending, rel.lsm_rows = None, [], 0
            rel.lsm_base_layers = 0
            if rel.pending_merges >= self._COMPACT_EVERY:
                rel.df = _checkpoint(df)
                rel.pending_merges = 0
            else:
                rel.df = df

    # re-export of the module constant (tests/tuning reach it via the db)
    _LSM_BROADCAST_ROWS = _LSM_BROADCAST_ROWS
    # majors per minor cadence: after this many minor collapses, the view is
    # frozen and materialized in the background (the expensive step)
    _LSM_MAJOR_EVERY = 4
    # backpressure bound: with a major compaction in flight, minors keep the
    # read plan flat; past this many minors the writer waits for the
    # compactor instead of outrunning it
    _LSM_MAX_LAG = 4

    def _lsm_minor_begin(self, rel: StoredRelation) -> "_threading.Thread":
        """Start an async collapse of the CURRENT pending log into ONE
        checkpointed latest-wins delta (tombstones kept — they must keep
        masking base keys). Cost is O(pending delta rows), NOT O(table),
        and it runs off-thread (r11) — the writer is never charged the
        ~0.3 s checkpoint job. The collapse bounds the flat view's union
        width (read cost grows super-linearly in pending width — measured
        1.5 s at 8 deltas vs 12.8 s at 17 on tiny data, the optimizer cost
        of pushing the anti-join/window through a wide union); while one is
        in flight, pending may overshoot to 4x _COMPACT_EVERY before the
        writer waits (backpressure). Callers hold rel.lsm_lock; the
        returned UNSTARTED thread is started after the lock is released."""
        prefix_union = rel.lsm_pending[-1][1]
        n = len(rel.lsm_pending)
        keys = rel.key_names

        def work():
            ck = None
            try:
                w = W.partitionBy(*keys).orderBy(F.col("__seq").desc())
                ck = _checkpoint(
                    prefix_union.withColumn("__rn", F.row_number().over(w))
                    .filter(F.col("__rn") == 1).drop("__rn")
                    .withColumn("__seq", F.lit(0)))
            except Exception:
                ck = None
            finally:
                # unconditional (BaseException included — a KeyboardInterrupt
                # or fatal py4j error must not wedge inflight=True forever,
                # which would disable collapses and unbound pending width)
                with rel.lsm_lock:
                    rel.lsm_minor_inflight = False
                    rel.lsm_minor_thread = None
                    if (ck is not None and len(rel.lsm_pending) >= n
                            and rel.lsm_pending[n - 1][1] is prefix_union):
                        # splice: collapsed prefix + deltas appended since
                        # capture. Suffix seqs are strictly greater than
                        # the collapsed 0, so latest-wins order holds.
                        entries = [(ck, ck)]
                        u = ck
                        for d, _ in rel.lsm_pending[n:]:
                            u = u.unionByName(d)
                            entries.append((d, u))
                        rel.lsm_pending = entries
                        rel.lsm_minors += 1
                        rel.lsm_view_dirty = True
                        rel.pending_merges = (rel.lsm_base_layers
                                              + len(entries))
                        if (self._lsm_wants_major(rel)
                                and not rel.lsm_compacting):
                            self._lsm_freeze(rel)
                    # else: pending was reset wholesale meanwhile — discard

        t = _threading.Thread(target=work, daemon=True,
                              name=f"cozo-lsm-minor-{rel.name}")
        rel.lsm_minor_inflight = True
        # started HERE, under rel.lsm_lock, and published only after
        # start(): any observer of lsm_minor_thread can join() it —
        # publishing an unstarted thread made a racing backpressure join
        # raise RuntimeError (r11 review). The worker cannot reset the
        # fields underneath us — its finally block needs rel.lsm_lock.
        t.start()
        rel.lsm_minor_thread = t
        return t

    def _lsm_freeze(self, rel: StoredRelation) -> "_threading.Thread":
        """Freeze the current flat view as the new lsm_base (the LSM
        memtable-freeze: lazy, zero jobs on the caller) and reset the
        pending log on top of it. Callers hold rel.lsm_lock. The worker
        thread is created, published AND STARTED here, under the lock —
        a concurrent writer can never observe lsm_compacting=True with
        lsm_thread=None, and any thread it observes is joinable (r11: an
        unstarted published thread made a racing backpressure join raise
        RuntimeError)."""
        frozen = rel.df
        rel.lsm_base = frozen
        rel.lsm_base_layers = 0
        rel.lsm_pending = []
        rel.lsm_rows = 0
        rel.lsm_seq = 0
        rel.lsm_minors = 0
        rel.pending_merges = 0
        rel.lsm_compacting = True
        t = self._make_lsm_worker(rel, frozen)
        # start BEFORE publishing: a lock-free reader (test helpers) that
        # observes lsm_thread non-None must always be able to join() it.
        # The worker cannot reset the fields underneath us — its finally
        # block needs rel.lsm_lock, which we hold.
        t.start()
        rel.lsm_thread = t
        return t

    def _make_lsm_worker(self, rel: StoredRelation,
                         frozen: DataFrame) -> "_threading.Thread":
        """Worker that materializes the frozen base off-thread and installs
        it atomically. The reference never charges the writer for
        compaction (RocksDB background threads via cozorocks) — this is
        the Spark analogue."""
        def work():
            ck = None
            try:
                ck = _checkpoint(frozen)
            except Exception:
                ck = None
            finally:
                # unconditional (BaseException included): lsm_compacting
                # stuck True with a dead thread would block every future
                # major and let pending stack forever
                with rel.lsm_lock:
                    rel.lsm_compacting = False
                    rel.lsm_thread = None
                    if ck is not None and rel.lsm_base is frozen:
                        rel.lsm_base = ck
                        # raw flat_df on purpose: `rel.df` would rebuild a
                        # dirty view over the OLD base just to discard it
                        if rel.flat_df is frozen and not rel.lsm_view_dirty:
                            rel.df = ck   # no mutations since the freeze
                        elif rel.lsm_pending:
                            # re-root the view on the ck leaf at next read
                            rel.lsm_view_dirty = True
                        if self._lsm_wants_major(rel):
                            # writers outpaced this pass: chain the next
                            # compaction (freeze starts its own worker)
                            self._lsm_freeze(rel)
                    # else: state was reset wholesale meanwhile — discard

        return _threading.Thread(target=work, daemon=True,
                                 name=f"cozo-lsm-compact-{rel.name}")

    def _apply_lsm_delta(self, rel: StoredRelation, delta: DataFrame,
                         n_delta: Optional[int], tombstone: bool) -> None:
        """Flat log-structured merge (r9): append the put/rm delta to the
        pending log and rebuild the read view as

            base ANTI-JOIN (all pending keys)  ∪  latest-wins(pending)

        — one join + one window regardless of how many mutations are
        pending (the previous per-mutation anti-join+union stacking cost
        ~0.4 s of broadcast/stage overhead PER LAYER on every read, and
        seconds per compaction). ``delta`` carries the full column set
        (put: callers pre-collapse within-batch duplicate keys) or the
        full KEY set (rm: tombstone; non-keys padded with typed NULLs).
        Later sequence numbers win per key; a winning tombstone drops the
        key. At the compaction threshold the view is FROZEN as the new
        lsm_base (lazy) and a background thread materializes it (r10,
        VERDICT r9 #3) — the writer is never charged for compaction, like
        the reference's RocksDB background compaction (cozorocks). With a
        compaction already in flight, pending keeps stacking on the flat
        view (still one join + one window) up to _LSM_MAX_LAG thresholds,
        then the writer waits for the compactor (backpressure)."""
        spawn_worker = None
        wait_thread = None
        wait_minor = None
        with rel.lsm_lock:
            if rel.lsm_base is None:
                rel.lsm_base = rel.df
                rel.lsm_pending = []
                rel.lsm_rows = 0
                rel.lsm_seq = 0
                rel.lsm_base_layers = rel.pending_merges
            proj = []
            for c in rel.keys + rel.non_keys:
                if tombstone and c.name not in rel.key_names:
                    proj.append(F.lit(None).cast(_col_type(c.typing))
                                .alias(c.name))
                else:
                    proj.append(F.col(c.name))
            rel.lsm_seq += 1  # monotonic: collapsed deltas sit at seq 0
            d = delta.select(
                *proj,
                F.lit(rel.lsm_seq).alias("__seq"),
                F.lit(bool(tombstone)).alias("__tomb"))
            # incremental running union: O(1) plan-construction per mutation
            prev_union = (rel.lsm_pending[-1][1]
                          if rel.lsm_pending else None)
            allp = d if prev_union is None else prev_union.unionByName(d)
            rel.lsm_pending.append((d, allp))
            rel.lsm_rows += (n_delta if n_delta is not None
                             else self._LSM_BROADCAST_ROWS + 1)
            # lazy view rebuild (r11): mark dirty, rebuild at first read —
            # the write path pays zero plan construction for the view
            rel.lsm_view_dirty = True
            rel.version += 1
            rel.pending_merges = rel.lsm_base_layers + len(rel.lsm_pending)
            if self._lsm_wants_major(rel):
                if not rel.lsm_compacting:
                    spawn_worker = self._lsm_freeze(rel)
                elif rel.lsm_minors >= (self._LSM_MAX_LAG
                                        * self._LSM_MAJOR_EVERY):
                    wait_thread = rel.lsm_thread
            if (spawn_worker is None
                    and rel.pending_merges >= self._COMPACT_EVERY):
                # collapse off-thread; while one is in flight pending
                # may overshoot to 4x the threshold, then backpressure.
                # 4x because the width cost is nearly flat with Arrow
                # delta leaves (re-measured r11: 1.0-1.3 s reads at
                # widths 16-32 on tiny data — the old super-linear
                # blowup was the python-RDD leaf constant, gone in
                # r10); a tighter cap made burst writers block on the
                # first cold collapse for no read-side benefit.
                if not rel.lsm_minor_inflight:
                    self._lsm_minor_begin(rel)  # starts its own worker
                elif rel.pending_merges >= 4 * self._COMPACT_EVERY:
                    wait_minor = rel.lsm_minor_thread
        # freeze/minor-begin start their workers under the lock (r11) —
        # nothing to start here; the locals only gate the joins below
        if spawn_worker is not None:
            return
        if wait_minor is not None:
            wait_minor.join(600)  # backpressure: collapse fell behind
            if wait_minor.is_alive():
                _log.warning(
                    "LSM minor collapse for %r still running after the "
                    "600 s backpressure join; pending width may exceed "
                    "its bound", rel.name)
        # the major-compactor join below still runs when a minor was
        # started or waited on — past the lag cap, skipping it would let
        # pending stack unboundedly on a stuck major
        if wait_thread is not None:
            wait_thread.join(600)  # backpressure: compactor fell behind
            if wait_thread.is_alive():
                # a major this slow implies a base far beyond single-node
                # scale; make the degraded state visible instead of letting
                # pending stack silently past the lag cap (VERDICT r10 nit)
                _log.warning(
                    "LSM major compaction for %r still running after the "
                    "600 s backpressure join; writes will keep stacking "
                    "on the flat view past the lag cap", rel.name)
            with rel.lsm_lock:
                if self._lsm_wants_major(rel) and not rel.lsm_compacting:
                    self._lsm_freeze(rel)  # starts its own worker

    def _lsm_wants_major(self, rel: StoredRelation) -> bool:
        """Major (background) compaction triggers: enough minor collapses
        accumulated, the collapsed delta outgrew the broadcast gate, or the
        base itself carries stacked :update layers."""
        return (rel.lsm_minors >= self._LSM_MAJOR_EVERY
                or rel.lsm_rows > self._LSM_BROADCAST_ROWS
                or rel.lsm_base_layers >= self._COMPACT_EVERY // 2)

    def _execute_store_op(self, df: DataFrame, opts: OutOpts,
                          prog: Optional[Program] = None) -> NamedRows:
        op = opts.store_op
        name = opts.store_target
        # a mutation whose rows must be materialized exactly once: either
        # re-evaluation is not identical (rand/now anywhere in the program)
        # or :returning collects them separately, or the entry is a derived
        # query (re-running a join/aggregation per read would be costly).
        # Plain const-rule writes — the OLTP shape: triggers, imperative
        # counters, API puts — skip the pin entirely and cost ZERO jobs.
        entry = (prog.rules.get("?") if prog is not None else None)
        pin_delta = (opts.returning or prog is None
                     or not isinstance(entry, ConstRule)
                     or program_nondet(prog))
        if name.startswith("_"):
            return self._mutate_temp(df, opts, prog)
        if getattr(self, "_read_only", False):
            # dynamic guard: covers imperative / brace-grouped scripts whose
            # inner blocks re-enter run_script (the static check in
            # run_script_read_only cannot see them) — reference bails in
            # execute_imperative when readonly needs write locks (db.rs:440)
            raise QueryError("script is not read-only")
        if op in ("create", "replace"):
            return self._create_relation(df, opts)
        rel = self.relations.get(name)
        if rel is None:
            raise QueryError(f"stored relation {name!r} not found")
        if op in ("ensure", "ensure_not"):
            # assertions require >= Protected (stored.rs:229,539)
            if rel.access_level in ("read_only", "hidden"):
                raise QueryError(f"relation {name!r} is {rel.access_level}")
        elif rel.access_level != "normal":
            # writes require Normal (stored.rs:75: access_level < Normal
            # bails — protected/read_only/hidden all block them)
            raise QueryError(f"relation {name!r} is {rel.access_level}")
        cols = self._target_columns(rel, opts, df)
        # A spec like `:put rev {to, fr => data}` maps each spec column to
        # the entry-head binding of the SAME NAME (reference semantics —
        # tests.rs test_trigger writes a reversed mirror this way). Only
        # when the head names don't cover the spec do we fall back to
        # positional assignment (a lenient extension the battery relies on
        # for `?[a, b] :put edge {fr, to}`-style puts).
        if set(cols) <= set(df.columns):
            data = self._coerce_to_schema(df.select(*cols), rel)
        else:
            data = self._coerce_to_schema(df.toDF(*cols), rel)
        returning_rows: list = []
        if op in ("put", "insert", "update"):
            key_names = rel.key_names
            # declared column defaults fill unbound columns before any arity
            # check (:create {ts default now() => ...} — runtime/tests.rs
            # default_columns puts only uid and the default supplies ts)
            new = data
            bound = set(cols)
            default_cols = rel.keys + (rel.non_keys if op != "update" else [])
            for c in default_cols:
                if c.name not in bound and c.default is not None:
                    new = new.withColumn(c.name, self._compile_default_col(c))
                    bound.add(c.name)
            cols = [c for c in new.columns]
            missing = [k for k in key_names if k not in bound]
            if missing:
                raise QueryError(f":{op} must bind all key columns, missing {missing}")
            # fill unbound non-keys with nulls for put/insert
            for c in rel.non_keys:
                if c.name not in bound:
                    new = new.withColumn(c.name, F.lit(None).cast(_col_type(c.typing)))
            new = new.select(*rel.col_names) if op != "update" else new
            # within-batch duplicate keys: the reference applies result rows
            # in sorted-tuple order with per-key overwrite (BTree iteration +
            # stored.rs put), so the LARGEST tuple per key wins; for :insert
            # the second row with the same key sees the first and conflicts
            # (tests.rs test_insertions)
            dup_val_cols = [c for c in new.columns if c not in key_names]
            n_inline = (len(entry.expr.items)
                        if isinstance(entry, ConstRule)
                        and isinstance(entry.expr, ListEx) else None)
            # a single inline row cannot carry a within-batch duplicate —
            # skip the dedup window (r9: it showed up TWICE per delta in
            # the LSM read view, one window+sort+exchange per branch, and
            # dominated single-row OLTP put/read latency)
            if op in ("put", "update") and dup_val_cols and n_inline != 1:
                w = W.partitionBy(*key_names).orderBy(
                    *[F.col(c).desc() for c in dup_val_cols])
                new = (new.withColumn("__rn", F.row_number().over(w))
                       .filter(F.col("__rn") == 1).drop("__rn"))
            # materialize the DELTA once (O(delta), not O(table)): pins
            # non-deterministic defaults (rand_uuid) to ONE evaluation shared
            # by the stored rows, triggers and :returning, and lets the merge
            # below stay a lazy plan over the previous state; skipped for
            # plain deterministic const-rule writes (re-evaluation is a
            # trivial local relation — zero Spark jobs on the write path)
            n_delta = None
            if pin_delta or any(c.default is not None and expr_nondet(c.default)
                                for c in default_cols):
                from cozo_spark.datalog.fixpoint import _checkpoint_count

                new, n_delta = _checkpoint_count(new)
            else:
                n_delta = n_inline  # inline rows: exact, free
            if op == "update":
                # every key must already exist (stored.rs:590: "key to
                # update does not exist")
                absent = (new.select(*key_names).distinct()
                          .join(rel.df, on=key_names, how="left_anti"))
                if not absent.isEmpty():
                    raise QueryError(
                        f":update key does not exist in {name!r}")
            # :returning needs the OLD rows for colliding keys, captured
            # before the mutation (transact.rs:43-95: put → inserted/replaced)
            if opts.returning:
                old = rel.df.join(new.select(*key_names).distinct(),
                                  on=key_names, how="left_semi")
                old_rows = [list(r) for r in old.select(*rel.col_names).collect()]
                if op == "update":
                    # align by NAME against the full relation header — an
                    # unmentioned column is NULL at ITS position, not padded
                    # at the end (a spec like {k => b} on {k => a, b} must
                    # report b under b, with a NULL)
                    bound_cols = [c for c in rel.col_names if c in new.columns]
                    new_full = []
                    for r in new.select(*bound_cols).collect():
                        vals = dict(zip(bound_cols, r))
                        new_full.append(
                            [vals.get(c) for c in rel.col_names])
                else:
                    new_full = [list(r) for r in new.collect()]
                returning_rows = [["inserted"] + r for r in new_full] + \
                                 [["replaced"] + r for r in old_rows]
            if op == "insert":
                in_batch_dup = (new.groupBy(*key_names).count()
                                .filter(F.col("count") > 1))
                clash = rel.df.join(new, on=key_names, how="left_semi")
                if not clash.isEmpty() or not in_batch_dup.isEmpty():
                    raise QueryError(f":insert key conflict in {name!r}")
            # pre-state rows at affected keys: the `_old` trigger relation
            # (stored.rs:712-717 — replaced full rows). Lazy plan over the
            # pre-mutation DataFrame; only materialized if a trigger reads it.
            # r9: the delta is usually tiny relative to the table (the
            # OLTP single/few-row put); a known-small key set broadcasts,
            # so every stacked merge layer is a map-side anti/semi join
            # instead of a shuffle — the every-8th-mutation compaction of
            # the layered plan drops from seconds to sub-second. Unknown
            # or large deltas keep the shuffle join (scale-safe).
            # r11: even BUILDING this plan costs the lazy-LSM view rebuild
            # plus a join per put (~10+ py4j ops) — skip it outright when
            # nothing will consume it (no changefeed, no put triggers).
            affected = new.select(*key_names).distinct()
            if n_delta is not None and n_delta <= 100_000:
                affected = F.broadcast(affected)
            need_old = (getattr(self, "changefeed", None) is not None
                        or bool(rel.put_triggers))
            old_full = (rel.df.join(affected, on=key_names, how="left_semi")
                        if need_old or op == "update" else None)
            if op == "update":
                # keep old values for columns not mentioned
                upd_cols = [c for c in cols if c not in key_names]
                old = rel.df
                nside = new.select(*key_names, *upd_cols).alias("n")
                if n_delta is not None and n_delta <= 100_000:
                    nside = F.broadcast(nside)
                merged = old.alias("o").join(nside, on=key_names, how="left")
                sel = [F.col(k) for k in key_names]
                for c in rel.non_keys:
                    if c.name in upd_cols:
                        sel.append(F.coalesce(F.col(f"n.{c.name}"), F.col(f"o.{c.name}")).alias(c.name))
                    else:
                        sel.append(F.col(f"o.{c.name}"))
                self._set_merged(rel, merged.select(*sel))
                # triggers see the POST-state merged full rows as _new
                fired = rel.df.join(affected, on=key_names, how="left_semi")
            else:
                self._apply_lsm_delta(rel, new, n_delta, tombstone=False)
                fired = new
            self._after_mutation(rel, "put", fired, old_full)
        elif op in ("rm", "delete"):
            key_names = rel.key_names
            rm_keys = data.select(*[c for c in cols if c in key_names]).distinct()
            n_delta = None
            if pin_delta:
                from cozo_spark.datalog.fixpoint import _checkpoint_count

                rm_keys, n_delta = _checkpoint_count(rm_keys)
            elif isinstance(entry, ConstRule) and isinstance(entry.expr,
                                                            ListEx):
                n_delta = len(entry.expr.items)
            if n_delta is not None and n_delta <= 100_000:
                rm_keys = F.broadcast(rm_keys)  # see the put-path comment
            if op == "delete":
                # :delete is strict — every key must exist (tests.rs:1179:
                # deleting from an empty relation errors); :rm is lenient
                absent = rm_keys.join(rel.df, on=rm_keys.columns, how="left_anti")
                if not absent.isEmpty():
                    raise QueryError(f":delete keys not present in {name!r}")
            if opts.returning:
                # rm → requested (input values placed at their NAMED column
                # positions, rest NULL) then deleted (the full old rows
                # actually removed), transact.rs:60
                for r in data.collect():
                    vals = dict(zip(cols, r))
                    returning_rows.append(
                        ["requested"] + [vals.get(c) for c in rel.col_names])
                gone = rel.df.join(rm_keys, on=rm_keys.columns, how="left_semi")
                for r in gone.select(*rel.col_names).collect():
                    returning_rows.append(["deleted"] + list(r))
            # removed full rows for the `_old` trigger relation
            # (stored.rs:1043-1049; _new for rm carries the requested keys).
            # r11: plan built only when a consumer exists (see the put path)
            need_old = (getattr(self, "changefeed", None) is not None
                        or bool(rel.rm_triggers))
            old_full = (rel.df.join(rm_keys, on=rm_keys.columns,
                                    how="left_semi")
                        if need_old else None)
            if set(rm_keys.columns) == set(rel.key_names):
                self._apply_lsm_delta(rel, rm_keys, n_delta, tombstone=True)
            else:
                # key-prefix rm: not expressible as a per-key tombstone in
                # the flat view — stack the anti-join (rare path)
                self._set_merged(
                    rel, rel.df.join(rm_keys, on=rm_keys.columns,
                                     how="left_anti"))
            self._after_mutation(rel, "rm", data, old_full)
        elif op == "ensure":
            present = data.exceptAll(rel.df.select(*cols))
            if not present.isEmpty():
                raise QueryError(f":ensure failed for {name!r}")
        elif op == "ensure_not":
            overlap = data.intersect(rel.df.select(*cols))
            if not overlap.isEmpty():
                raise QueryError(f":ensure_not failed for {name!r}")
        else:
            raise QueryError(f"unsupported store op :{op}")
        if opts.returning:
            # header = _kind + the relation's full schema (transact.rs:82-89)
            return NamedRows(["_kind"] + rel.col_names, returning_rows)
        return NamedRows(["status"], [["OK"]])

    def _mutate_temp(self, df: DataFrame, opts: OutOpts,
                     prog: Optional[Program] = None) -> NamedRows:
        name = opts.store_target
        op = opts.store_op
        # same lazy-write rule as stored relations: deterministic const-rule
        # writes stack lazily (imperative %loop counters!), everything else
        # pins; plan depth bounded by the same compaction counter
        entry = prog.rules.get("?") if prog is not None else None
        lazy_ok = (prog is not None and isinstance(entry, ConstRule)
                   and not program_nondet(prog))

        def _settemp(newdf: DataFrame) -> None:
            if not hasattr(self, "_temp_pending"):
                self._temp_pending = {}
            n = self._temp_pending.get(name, 0) + 1
            if not lazy_ok or n >= self._COMPACT_EVERY:
                self.temp_relations[name] = _checkpoint(newdf)
                self._temp_pending[name] = 0
            else:
                self.temp_relations[name] = newdf
                self._temp_pending[name] = n
        if op in ("create", "replace"):
            # `:create _name {cols}` declares a session-scoped temp relation
            # (imperative.rs temp stores; crashy_imperative's opener block)
            schema = opts.store_schema
            cols = ([c.name for c in schema.keys] + [c.name for c in schema.non_keys]
                    if schema is not None else [])
            # remember the declared key split: temp stores are keyed like
            # any relation — :put upserts by key, :rm deletes by key
            if not hasattr(self, "_temp_keys"):
                self._temp_keys = {}
            if schema is not None and schema.non_keys:
                self._temp_keys[name] = [c.name for c in schema.keys]
            else:
                self._temp_keys.pop(name, None)
            if df.columns == ["__unit__"] or not df.columns:
                # placeholder: declared columns with UNKNOWN types; the first
                # :put adopts the incoming frame's real schema (a StringType
                # stand-in would silently coerce numeric puts to strings)
                fields = [T.StructField(c, T.StringType(), True) for c in cols]
                self.temp_relations[name] = self.spark.createDataFrame(
                    [], T.StructType(fields))
                if not hasattr(self, "_temp_placeholder"):
                    self._temp_placeholder = set()
                self._temp_placeholder.add(name)
            else:
                self.temp_relations[name] = _checkpoint(
                    df.toDF(*cols) if cols else df)
                if hasattr(self, "_temp_placeholder"):
                    self._temp_placeholder.discard(name)
            return NamedRows(["status"], [["OK"]])
        cur = self.temp_relations.get(name)
        tkeys = getattr(self, "_temp_keys", {}).get(name)
        # spec columns of a `:put _t {v, k}`-style mutation (store_schema
        # doubles as the spec for put/rm, exactly as for stored relations)
        spec_cols = ([c.name for c in opts.store_schema.keys]
                     + [c.name for c in opts.store_schema.non_keys]
                     if opts.store_schema is not None else [])

        def _align_full(d: DataFrame) -> DataFrame:
            """By-NAME alignment into the temp store's column order — the
            same rule _execute_store_op applies to stored relations: spec
            columns map to the entry-head binding of the SAME NAME (falling
            back to positional when head names don't cover), and a spec'd
            column must exist in the store. Without this, `?[v, k] :put
            _kt {v, k}` silently writes v into k (the by-name bug fixed for
            stored relations in r3, previously still live for temp stores)."""
            if spec_cols:
                if len(spec_cols) != len(cur.columns):
                    raise QueryError("column spec arity mismatch")
                unknown = [c for c in spec_cols if c not in cur.columns]
                if unknown:
                    raise QueryError(
                        f"column {unknown[0]!r} not found in temp relation {name!r}")
                dd = (d.select(*spec_cols)
                      if set(spec_cols) <= set(d.columns) else d.toDF(*spec_cols))
                return dd.select(*cur.columns)
            if len(d.columns) == len(cur.columns) and set(d.columns) == set(cur.columns):
                return d.select(*cur.columns)
            return d.toDF(*cur.columns)

        if op in ("put", "insert"):
            if (cur is not None and getattr(self, "_temp_placeholder", None)
                    and name in self._temp_placeholder):
                # first write into an empty declared temp store: adopt the
                # incoming schema under the declared column names
                self._temp_placeholder.discard(name)
                _settemp(_align_full(df))
            elif cur is None:
                if spec_cols and len(spec_cols) == len(df.columns):
                    # implicit store creation with a spec: adopt the spec's
                    # names, pulling values by head name when they cover
                    _settemp(df.select(*spec_cols)
                             if set(spec_cols) <= set(df.columns)
                             else df.toDF(*spec_cols))
                else:
                    _settemp(df)
            elif tkeys:
                # keyed temp store: PK upsert, exactly like a stored
                # relation (the reference's temp relations share the same
                # RelationHandle machinery) — last write wins per key
                new = _align_full(df)
                val_cols = [c for c in cur.columns if c not in tkeys]
                if val_cols:
                    w = W.partitionBy(*tkeys).orderBy(
                        *[F.col(c).desc() for c in val_cols])
                    new = (new.withColumn("__rn", F.row_number().over(w))
                           .filter(F.col("__rn") == 1).drop("__rn"))
                keep = cur.join(new.select(*tkeys).distinct(),
                                on=tkeys, how="left_anti")
                _settemp(keep.unionByName(new))
            else:
                _settemp(cur.unionByName(_align_full(df)).distinct())
        elif op in ("rm", "delete"):
            if cur is not None:
                if tkeys and len(df.columns) < len(cur.columns):
                    # key(-prefix)-only :rm spec removes whole rows by key;
                    # a named spec (`:rm _t {k2, k1}`) aligns by NAME
                    if spec_cols:
                        if len(spec_cols) != len(df.columns):
                            raise QueryError("column spec arity mismatch")
                        unknown = [c for c in spec_cols if c not in tkeys]
                        if unknown:
                            raise QueryError(
                                f":rm spec column {unknown[0]!r} is not a key "
                                f"of temp relation {name!r}")
                        d = (df.select(*spec_cols)
                             if set(spec_cols) <= set(df.columns)
                             else df.toDF(*spec_cols))
                        rm_keys = d.select(
                            *[c for c in tkeys if c in spec_cols]).distinct()
                    elif set(df.columns) <= set(tkeys):
                        rm_keys = df.select(
                            *[c for c in tkeys if c in df.columns]).distinct()
                    else:
                        rm_keys = df.toDF(*tkeys[: len(df.columns)]).distinct()
                    _settemp(cur.join(rm_keys, on=rm_keys.columns,
                                      how="left_anti"))
                elif tkeys:
                    rm_keys = _align_full(df).select(*tkeys).distinct()
                    _settemp(cur.join(rm_keys, on=tkeys, how="left_anti"))
                else:
                    _settemp(cur.exceptAll(_align_full(df)))
        else:
            raise QueryError(f"unsupported temp op :{op}")
        return NamedRows(["status"], [["OK"]])

    def _after_mutation(self, rel: StoredRelation, kind: str, rows: DataFrame,
                        old_rows: Optional[DataFrame] = None) -> None:
        """Post-mutation hooks: incrementally patch built index artifacts
        (delta tokenize/sign, not full rebuild — indices.apply_mutation;
        unbuilt ones stay lazy) and fire triggers (query/stored.rs:669-773)
        with `_new` AND `_old` bound (put: _new = new full rows, _old =
        replaced full rows, stored.rs:706-717; rm: _new = requested keys,
        _old = removed full rows, stored.rs:1043-1049)."""
        from cozo_spark.operators import indices as IX

        IX.apply_mutation(rel, kind, rows)
        # unpin old checkpoint lineage held by now-stale cached plans
        # (pure-Python sweep; see _sweep_stale_plan_entries)
        self._sweep_stale_plan_entries(rel.name)
        feed = getattr(self, "changefeed", None)
        if feed is not None:
            feed.record(rel.name, kind, rows, old_rows)
        triggers = rel.put_triggers if kind == "put" else rel.rm_triggers
        if not triggers:
            return
        saved = self.temp_relations.get("_new")
        saved_old = self.temp_relations.get("_old")
        saved_flag = getattr(self, "_in_trigger", False)
        self.temp_relations["_new"] = rows
        self.temp_relations["_old"] = (old_rows if old_rows is not None
                                       else rows.limit(0))
        self._in_trigger = True  # :replace inside a trigger is rejected
        try:
            for script in triggers:
                self.run_script(script)
        finally:
            self._in_trigger = saved_flag
            if saved is None:
                self.temp_relations.pop("_new", None)
            else:
                self.temp_relations["_new"] = saved
            if saved_old is None:
                self.temp_relations.pop("_old", None)
            else:
                self.temp_relations["_old"] = saved_old

    def _coerce_to_schema(self, data: DataFrame, rel: StoredRelation) -> DataFrame:
        """Write-time coercion (reference relation.rs:173-457): cast each
        provided column to its declared type. Special cases: Validity accepts
        [ts, is_assert] lists, the strings "ASSERT"/"RETRACT" (current
        transaction timestamp, assert/retract), and RFC3339 timestamps with
        an optional retract prefix `~`; the sentinel timestamps i64::MAX /
        i64::MIN are rejected (relation.rs:333-389)."""
        typing = {c.name: c.typing for c in rel.keys + rel.non_keys}
        dtypes = dict(data.dtypes)
        out = data
        for name in data.columns:
            t = typing.get(name)
            if not t:
                continue
            base = t.rstrip("?")
            cur = dtypes.get(name, "")
            if base == "Validity":
                if cur.startswith("array"):
                    out = out.withColumn(name, F.struct(
                        F.element_at(F.col(name), 1).cast("long").alias("ts"),
                        F.element_at(F.col(name), 2).cast("boolean").alias("is_assert")))
                elif cur == "string":
                    # per-transaction "now", microseconds (ValidityTs::now)
                    import time as _time

                    now_us = int(_time.time() * 1_000_000)
                    s = F.col(name)
                    body = F.when(s.startswith("~"), F.substring(s, 2, 2 ** 30)) \
                            .otherwise(s)
                    parsed_us = F.unix_micros(F.to_timestamp(body))
                    out = out.withColumn(name, F.when(
                        s == "ASSERT",
                        F.struct(F.lit(now_us).alias("ts"),
                                 F.lit(True).alias("is_assert")),
                    ).when(
                        s == "RETRACT",
                        F.struct(F.lit(now_us).alias("ts"),
                                 F.lit(False).alias("is_assert")),
                    ).otherwise(F.struct(
                        parsed_us.alias("ts"),
                        (~s.startswith("~")).alias("is_assert"))))
                elif not cur.startswith("struct"):
                    raise QueryError(f"cannot coerce {cur} to Validity for column {name!r}")
                # EAGER per-row validation, validity writes only (writes
                # elsewhere stay zero-job): unparseable strings (ts null
                # after coercion — InvalidValidity) and the reserved
                # sentinels i64::MAX (the @ "END" probe) / i64::MIN
                # (unrepresentable as Reverse) are rejected at put time,
                # matching relation.rs:333-389. Lazy row asserts would
                # otherwise poison every LATER read of the relation.
                bad = out.filter(
                    F.col(name)["ts"].isNull()
                    | (F.col(name)["ts"] == F.lit(2 ** 63 - 1))
                    | (F.col(name)["ts"] == F.lit(-(2 ** 63))))
                if not bad.isEmpty():
                    raise QueryError(
                        f"value cannot be coerced into validity for column "
                        f"{name!r} (unparseable or reserved timestamp)")
            else:
                want = _col_type(t)
                # r11: a cast whose source dtype already matches is a no-op
                # semantically but still costs 2-3 py4j round-trips per
                # column on every put — skip it (typed local frames from
                # _eval_const_rule usually match exactly)
                if dtypes.get(name) != want.simpleString():
                    out = out.withColumn(name, F.col(name).cast(want))
        return out

    def _target_columns(self, rel: StoredRelation, opts: OutOpts, df: DataFrame) -> list:
        if opts.store_schema is not None:
            cols = [c.name for c in opts.store_schema.keys] + \
                   [c.name for c in opts.store_schema.non_keys]
            unknown = [c for c in cols if c not in rel.col_names]
            if unknown:
                # spec columns resolve against the stored metadata; an
                # unknown name is an error, not a silent NULL write
                # (runtime/relation.rs:ensure_compatible — "column not found")
                raise QueryError(
                    f"column {unknown[0]!r} not found in relation {rel.name!r}")
            if not cols:
                # `:put x {}` shorthand (runtime/tests.rs short_hand):
                # match the entry's headers BY NAME when they all name
                # relation columns (hnsw_index puts a named subset);
                # otherwise the relation's own column order
                if all(c in rel.col_names for c in df.columns):
                    cols = list(df.columns)
                else:
                    cols = rel.col_names[: len(df.columns)]
            if len(cols) != len(df.columns):
                raise QueryError("column spec arity mismatch")
            return cols
        if len(df.columns) > len(rel.col_names):
            raise QueryError(f"too many columns for {rel.name!r}")
        return rel.col_names[: len(df.columns)]

    def _create_relation(self, df: DataFrame, opts: OutOpts) -> NamedRows:
        name = opts.store_target
        if opts.store_op == "create" and name in self.relations:
            raise QueryError(f"relation {name!r} already exists")
        # reference :replace guards (stored.rs:59-67): the in-trigger bail
        # comes FIRST, before the target is even looked up — a trigger may
        # not :replace anything, existing or not
        if opts.store_op == "replace" and getattr(self, "_in_trigger", False):
            raise QueryError(
                f"replace op in trigger is not allowed: {name}")
        old = self.relations.get(name) if opts.store_op == "replace" else None
        if old is not None:
            # remaining :replace guards + hooks (stored.rs:67-123)
            if old.indices:
                raise QueryError(
                    f"cannot replace relation {name!r} since it has indices")
            if old.access_level != "normal":
                raise QueryError(f"relation {name!r} is {old.access_level}")
            # replace triggers fire BEFORE the swap (they can read the old
            # contents); no _new/_old bindings (stored.rs:85-111). They run
            # with the in-trigger flag set, so a :replace inside one errors
            # instead of recursing
            saved_flag = getattr(self, "_in_trigger", False)
            self._in_trigger = True
            try:
                for script in old.replace_triggers:
                    self.run_script(script)
            finally:
                self._in_trigger = saved_flag
        schema: TableSchema = opts.store_schema or TableSchema()
        keys = schema.keys
        non_keys = schema.non_keys
        cols = [c.name for c in keys] + [c.name for c in non_keys]
        if not cols:
            from cozo_spark.datalog.ast import ColDef

            keys = [ColDef(c) for c in df.columns]
            non_keys = []
            cols = list(df.columns)
        is_unit_seed = df.columns == ["__unit__"] or not df.columns
        if is_unit_seed:
            fields = []
            for c in keys + non_keys:
                fields.append(T.StructField(c.name, _col_type(c.typing), True))
            data = self.spark.createDataFrame([], T.StructType(fields))
        else:
            if len(df.columns) != len(cols):
                # name-based alignment: when the query binds a SUBSET of the
                # schema by name, missing columns take their declared
                # defaults (tests.rs as_store_in_imperative_script:
                # `?[y] ... :create a {x default rand_uuid_v1() => y}`)
                if (set(df.columns) <= set(cols)
                        and len(set(df.columns)) == len(df.columns)):
                    data = df
                    for c in keys + non_keys:
                        if c.name in df.columns:
                            continue
                        if c.default is None:
                            raise QueryError(
                                f":create {name}: column {c.name!r} not bound "
                                "and has no default")
                        data = data.withColumn(c.name, self._compile_default_col(c))
                    data = data.select(*cols)
                else:
                    raise QueryError(
                        f":create {name}: query returns {len(df.columns)} columns, schema has {len(cols)}")
            else:
                data = df.toDF(*cols)
            for c in keys + non_keys:
                if c.typing:
                    data = data.withColumn(c.name, F.col(c.name).cast(_col_type(c.typing)))
            data = _checkpoint(data.dropDuplicates([c.name for c in keys]))
        new_rel = StoredRelation(name, keys, non_keys, data)
        if old is not None:
            # :replace of an existing relation is a logical write
            new_rel.version = old.version + 1
        if old is not None and (old.put_triggers or old.rm_triggers):
            # put/rm triggers survive a :replace (stored.rs:83,123-126) and
            # the carried-over put triggers fire for the initial rows
            new_rel.put_triggers = list(old.put_triggers)
            new_rel.rm_triggers = list(old.rm_triggers)
        self.relations[name] = new_rel
        if old is not None and new_rel.put_triggers and not is_unit_seed:
            self._after_mutation(new_rel, "put", data, data.limit(0))
        if opts.returning:
            rows = [["inserted"] + list(r) for r in data.collect()]
            return NamedRows(["_kind"] + cols, rows)
        return NamedRows(["status"], [["OK"]])

    # -- sys ops (runtime/db.rs:1192-1454) --------------------------------------------------

    def _run_sysop(self, op: dict) -> NamedRows:
        kind = op["sysop"]
        if getattr(self, "_read_only", False) and kind not in (
                "relations", "columns", "indices", "describe", "explain",
                "fixed_rules", "show_triggers", "running"):
            raise QueryError("sys op is not read-only")
        if kind == "relations":
            rows = []
            for n, r in sorted(self.relations.items()):
                rows.append([n, len(r.keys), len(r.non_keys), r.access_level])
                # regular indices are listed as relations (tests.rs:487-490)
                for iname, idx in sorted(r.indices.items()):
                    if idx.kind == "regular":
                        rows.append([f"{n}:{iname}", len(idx.columns), 0, "index"])
            return NamedRows(["name", "n_keys", "n_non_keys", "access_level"], rows)
        if kind == "columns":
            target = op["target"]
            if ":" in target:
                rel_name, idx_name = target.split(":", 1)
                rel = self.relations.get(rel_name)
                idx = rel.indices.get(idx_name) if rel is not None else None
                if idx is not None and idx.kind == "hnsw":
                    # proximity-graph relation layout (see hnsw_graph_df)
                    key = rel.key_names[0]
                    cols = ["layer", f"fr_{key}", f"to_{key}", "dist"]
                    rows = [[c, i < 3, i, "Any"] for i, c in enumerate(cols)]
                    return NamedRows(["column", "is_key", "index", "type"], rows)
                if idx is None or idx.kind != "regular":
                    raise QueryError(f"relation {target!r} not found")
                rows = [[c, True, i, "Any"] for i, c in enumerate(idx.columns)]
                return NamedRows(["column", "is_key", "index", "type"], rows)
            rel = self.relations.get(target)
            if rel is None:
                raise QueryError(f"relation {op['target']!r} not found")
            rows = []
            for i, c in enumerate(rel.keys):
                rows.append([c.name, True, i, c.typing or "Any"])
            for i, c in enumerate(rel.non_keys):
                rows.append([c.name, False, i, c.typing or "Any"])
            return NamedRows(["column", "is_key", "index", "type"], rows)
        if kind == "remove":
            for t in op["targets"]:
                if t not in self.relations:
                    raise QueryError(f"relation {t!r} not found")
                if self.relations[t].access_level != "normal":
                    # destroy requires Normal (relation.rs:695)
                    raise QueryError(
                        f"relation {t!r} is {self.relations[t].access_level}")
                del self.relations[t]
            return NamedRows(["status"], [["OK"]])
        if kind == "rename":
            for old, new in op["targets"]:
                if old in self.relations and self.relations[old].access_level != "normal":
                    # rename requires Normal (relation.rs:1427)
                    raise QueryError(
                        f"relation {old!r} is {self.relations[old].access_level}")
                if old not in self.relations:
                    raise QueryError(f"relation {old!r} not found")
                if new in self.relations:
                    raise QueryError(f"relation {new!r} already exists")
                rel = self.relations.pop(old)
                rel.name = new
                self.relations[new] = rel
            return NamedRows(["status"], [["OK"]])
        if kind == "access_level":
            for t in op["targets"]:
                self.relations[t].access_level = op["level"]
            return NamedRows(["status"], [["OK"]])
        if kind in ("index", "hnsw", "fts", "lsh"):
            from cozo_spark.operators.indices import IndexDef

            verb = op["verb"]
            rel_name, idx_name = op["target"]
            rel = self.relations.get(rel_name)
            if rel is None:
                raise QueryError(f"relation {rel_name!r} not found")
            if verb == "drop":
                rel.indices.pop(idx_name, None)
                return NamedRows(["status"], [["OK"]])
            kind_map = {"index": "regular", "hnsw": "hnsw", "fts": "fts", "lsh": "lsh"}
            columns = op.get("columns", [])
            if kind == "index":
                # regular index: validate columns, store the full covering
                # layout = given columns + remaining key columns
                # (runtime/db.rs index create; tests.rs:455-516)
                bad = [c for c in columns if c not in rel.col_names]
                if bad:
                    raise QueryError(
                        f"::index create {rel_name}:{idx_name}: no column(s) {bad}")
                columns = list(columns) + [k for k in rel.key_names
                                           if k not in columns]
            rel.indices[idx_name] = IndexDef(
                kind_map[kind], options=op.get("fields", {}), columns=columns)
            return NamedRows(["status"], [["OK"]])
        if kind == "indices":
            rel = self.relations.get(op["target"])
            if rel is None:
                raise QueryError(f"relation {op['target']!r} not found")
            rows = [[n, d.kind] for n, d in sorted(rel.indices.items())]
            return NamedRows(["name", "kind"], rows)
        if kind == "describe":
            rel = self.relations.get(op["target"])
            if rel is None:
                raise QueryError(f"relation {op['target']!r} not found")
            rows = []
            for c in rel.keys:
                rows.append([rel.name, c.name, True, c.typing or "Any"])
            for c in rel.non_keys:
                rows.append([rel.name, c.name, False, c.typing or "Any"])
            return NamedRows(["relation", "column", "is_key", "type"], rows)
        if kind == "running":
            # Spark jobs are tracked by the scheduler; surface active job ids
            sc = self.spark.sparkContext
            try:
                ids = sc.statusTracker().getActiveJobsIds()
            except Exception:
                ids = []
            return NamedRows(["job_id"], [[int(i)] for i in ids])
        if kind == "kill":
            try:
                self.spark.sparkContext.cancelJobGroup(str(op.get("expr")))
            except Exception:
                pass
            return NamedRows(["status"], [["OK"]])
        if kind == "set_triggers":
            rel = self.relations.get(op["target"])
            if rel is None:
                raise QueryError(f"relation {op['target']!r} not found")
            if rel.access_level in ("read_only", "hidden"):
                # set triggers requires >= Protected (relation.rs:564)
                raise QueryError(f"relation {op['target']!r} is {rel.access_level}")
            rel.put_triggers, rel.rm_triggers, rel.replace_triggers = [], [], []
            for tkind, script in op.get("triggers", []):
                if tkind == "put":
                    rel.put_triggers.append(script)
                elif tkind == "rm":
                    rel.rm_triggers.append(script)
                elif tkind == "replace":
                    rel.replace_triggers.append(script)
                else:
                    raise QueryError(f"unknown trigger kind {tkind!r}")
            return NamedRows(["status"], [["OK"]])
        if kind == "show_triggers":
            rel = self.relations.get(op["target"])
            if rel is None:
                raise QueryError(f"relation {op['target']!r} not found")
            rows = ([["put", s] for s in rel.put_triggers]
                    + [["rm", s] for s in rel.rm_triggers]
                    + [["replace", s] for s in rel.replace_triggers])
            return NamedRows(["kind", "script"], rows)
        if kind == "fixed_rules":
            from cozo_spark.fixed_rules import fixed_rule_names
            return NamedRows(["rule"], [[n] for n in fixed_rule_names()])
        if kind == "compact":
            # the log-structured write path gives ::compact a real meaning:
            # flush every relation's pending lazy merges into one
            # materialization (the reference's storage compaction analogue)
            for rel in self.relations.values():
                with rel.lsm_lock:
                    if rel.pending_merges > 0 or rel.lsm_compacting:
                        rel.df = _checkpoint(rel.df)
                        rel.pending_merges = 0
                        rel.lsm_base, rel.lsm_pending, rel.lsm_rows = \
                            None, [], 0
                        rel.lsm_base_layers = 0
            return NamedRows(["status"], [["OK"]])
        if kind == "explain":
            # per-atom plan table in the reference's shape (db.rs:968-1191:
            # stratum/rule/atom rows with join kinds); our join strategy
            # column reports what the translator will emit, the physical
            # pick (broadcast vs sort-merge) being Catalyst's at runtime
            prog = op["program"]
            return NamedRows(
                ["rule", "kind", "clause", "atom", "op", "ref", "detail"],
                self._explain_rows(prog))
        raise QueryError(f"unsupported sys op ::{kind}")

    def _explain_rows(self, prog) -> list:
        from cozo_spark.datalog.ast import (
            Cond as _Cond, Negation as _Neg, RelApply as _Rel,
            NamedRelApply as _NRel, RuleApply as _Rule, SearchApply as _Search,
            Unify as _Unify)

        def atom_row(a, first: bool):
            if isinstance(a, _Rule):
                vars_ = ",".join(getattr(x, "name", "_") for x in a.args)
                op = "scan" if first else "equi_join"
                return op, a.name, f"[{vars_}]"
            if isinstance(a, (_Rel, _NRel)):
                op = "stored_scan" if first else "stored_join"
                if isinstance(a, _NRel):
                    cols = ",".join(a.pairs)
                    return op, f"*{a.name}", f"{{{cols}}}"
                vars_ = ",".join(getattr(x, "name", "_") for x in a.args)
                return op, f"*{a.name}", f"[{vars_}]"
            if isinstance(a, _Neg):
                _, ref, det = atom_row(a.atom, False)
                return "neg_join(anti)", ref, det
            if isinstance(a, _Search):
                return "index_search", f"~{a.rel}:{a.idx}", ",".join(a.pairs)
            if isinstance(a, _Unify):
                return "unify", a.var, "explode" if a.multi else "bind"
            if isinstance(a, _Cond):
                return "filter", "", repr(a.expr)[:60]
            return type(a).__name__, "", ""

        rows = []
        for name, rule in prog.rules.items():
            if isinstance(rule, list):
                for ci, cl in enumerate(rule):
                    for ai, atom in enumerate(cl.body):
                        op, ref, det = atom_row(atom, ai == 0)
                        rows.append([name, "inline", ci, ai, op, ref, det])
            elif isinstance(rule, FixedApply):
                ins = ",".join(i.name for i in rule.inputs)
                rows.append([name, "fixed", 0, 0, "fixed_rule",
                             rule.rule_name, ins])
                mode = self._planned_fixed_mode(rule)
                if mode is not None:
                    rows.append([name, "fixed", 0, 1, "planned_mode",
                                 rule.rule_name, mode])
            else:
                rows.append([name, "const", 0, 0, "inline_fixed", "", ""])
        return rows

    def _planned_fixed_mode(self, rule: FixedApply) -> Optional[str]:
        """Planned execution mode of a mode-switching fixed rule (r10,
        VERDICT r9 #5): the reference's ::explain emits a per-atom plan
        table (db.rs:968-1191), and sampling/gating decisions belong in
        that plan view — a user inspecting ::explain should see that a
        centrality call will pivot-sample (and with how many pivots), or
        that Louvain will run driver-sequential under the size gate,
        BEFORE paying for the run. Calls the rules' own decisions
        (``graphs.centrality_plan``, ``graphs.louvain_plan``) at the cost
        of one count job on the edge input; derived-rule inputs are
        reported data-dependent, not evaluated."""
        rn = rule.rule_name
        if rn not in ("BetweennessCentralityDist", "ClosenessCentralityDist",
                      "CommunityDetectionLouvainDist"):
            return None
        from cozo_spark.fixed_rules import graphs as G

        inp = rule.inputs[0] if rule.inputs else None
        df, cols = None, []
        if inp is not None and inp.kind in ("relation", "named_relation"):
            try:
                df = self._resolve_relation(inp.name)
            except Exception:
                df = None
            if df is not None:
                cols = df.columns
                if inp.kind == "named_relation" and inp.bindings:
                    # mirror _eval_fixed_rule: the rule sees the BOUND
                    # columns in binding order, not the relation layout.
                    # The counts read them off the relation's own frame,
                    # so their memo hits across calls.
                    cols = [c for c, _v in inp.bindings]
                    if not set(cols) <= set(df.columns):
                        df = None
                # positional bindings only RENAME the first k columns —
                # the first two stay the edge endpoints
        if df is None or len(cols) < 2:
            return ("mode=data-dependent (derived input; decided at run "
                    "time — CozoDb.last_fixed_rule_info() after the run)")
        opts = {}
        for k, v in rule.options.items():
            try:
                opts[k] = const_eval(v)
            except Exception:
                pass
        a, b = cols[:2]
        if rn == "CommunityDetectionLouvainDist":
            plan = G.louvain_plan(_explain_undirected_edges(df, a, b),
                                  opts.get("local_threshold"))
            return (f"mode={plan['mode']} edges={plan['edges']}"
                    f" gate={plan['gate']}")
        plan = G.centrality_plan(_explain_nodes(df, a, b),
                                 opts.get("sources"))
        mode = (f"mode={plan['mode']} pivots={plan['pivots']}"
                f" nodes={plan['nodes']}")
        if plan["mode"] == "sampled":
            # sampled mode's accuracy boundary is part of the PLAN: the
            # BFS/Bellman-Ford cap truncates (exact mode auto-extends
            # instead). last_fixed_rule_info() reports whether it actually
            # fired after the run (VERDICT r10 #6).
            if rn == "BetweennessCentralityDist":
                cap = int(opts.get("max_depth", 64))
                mode += f" accuracy_cap=max_depth:{cap}"
            else:
                cap = int(opts.get("max_iterations", 64))
                mode += f" accuracy_cap=max_iterations:{cap}"
        return mode


# ::explain counts are memoized so that inspecting a plan does not re-scan a
# large relation on every invocation. They key on the relation's frame
# identity: any mutation swaps rel.df, and the next call misses.
@plan_memo
def _explain_undirected_edges(df: DataFrame, a: str, b: str) -> int:
    return (df.filter(F.col(a) != F.col(b))
            .select(F.least(F.col(a), F.col(b)).alias("x"),
                    F.greatest(F.col(a), F.col(b)).alias("y"))
            .distinct().count())


@plan_memo
def _explain_nodes(df: DataFrame, a: str, b: str) -> int:
    return (df.select(F.col(a).alias("n"))
            .unionByName(df.select(F.col(b).alias("n")))
            .distinct().count())


def _rel_meta_fingerprint(r: StoredRelation) -> tuple:
    """Metadata identity of a relation for txn conflict scoping: triggers,
    access level, and the FULL index definitions (kind + options + built
    state class) — name-only comparison would miss a same-name index
    redefinition inside a transaction."""
    return (
        r.access_level, tuple(r.put_triggers), tuple(r.rm_triggers),
        tuple(r.replace_triggers),
        tuple(sorted(
            # id() catches same-name redefinition (a new IndexDef object)
            # even when kind/options repr identically; artifact state is
            # deliberately EXCLUDED — lazy builds are caches, not writes
            (n, d.kind, repr(sorted(d.options.items(), key=lambda kv: str(kv[0]))),
             tuple(d.columns), id(d))
            for n, d in r.indices.items())),
    )


class MultiTransaction:
    """Interactive transaction session (reference db.rs:298-397, HTTP
    /transact): statements run against a private copy-on-write view of the
    registry; ``commit`` publishes all staged relation states atomically
    (single-writer registry swap — the Delta-transaction analogue),
    ``abort`` discards them. Mirrors the reference's per-transaction
    snapshot isolation for a single writer; concurrent-writer conflicts
    surface at commit as a simple last-write check.
    """

    def __init__(self, db: CozoDb, write: bool = True):
        import copy

        self.base = db
        self.write = write
        # shadow CozoDb sharing the SparkSession but with its own registry
        self.shadow = CozoDb(db.spark)
        self.shadow.relations = {
            n: StoredRelation(r.name, list(r.keys), list(r.non_keys), r.df,
                              r.access_level, list(r.put_triggers),
                              list(r.rm_triggers), list(r.replace_triggers),
                              # own IndexDefs: a mutation here patches the
                              # index artifact, which an abort must not
                              # leave behind in the base relation
                              {n: copy.copy(d) for n, d in r.indices.items()},
                              # preserve key trust — defaulting to True here
                              # would let the FD distinct-elision fire on an
                              # untrusted registered frame inside the txn
                              keys_trusted=r.keys_trusted,
                              pending_merges=r.pending_merges,
                              version=r.version,
                              created_seq=r.created_seq)
            for n, r in db.relations.items()
        }
        self.shadow.temp_relations = dict(db.temp_relations)
        # logical (created_seq, version) at txn start: compaction
        # (::compact / _COMPACT_EVERY) swaps .df without bumping version,
        # so neither a shadow-side nor a base-side compaction reads as a
        # write; created_seq disambiguates a concurrent drop+recreate
        self._base_snapshot = {n: (r.created_seq, r.version)
                               for n, r in db.relations.items()}
        # metadata fingerprint of each shadow clone at txn start: a sysop
        # that edits triggers/access/indices touches the relation without
        # replacing .df, and must still count as a write at commit time
        self._meta_snapshot = {n: _rel_meta_fingerprint(r)
                               for n, r in self.shadow.relations.items()}
        self.done = False

    def run_script(self, script: str, params: Optional[dict] = None) -> NamedRows:
        if self.done:
            raise QueryError("transaction already finished")
        if not self.write:
            return self.shadow.run_script_read_only(script, params)
        return self.shadow.run_script(script, params)

    def commit(self) -> None:
        if self.done:
            raise QueryError("transaction already finished")
        if self.write:
            snap = self._base_snapshot
            shadow_rels = self.shadow.relations
            # relations this transaction actually WROTE: logical version
            # bumped (every mutation routes through _set_merged / :replace /
            # ::import, which increment it), created, dropped, or metadata
            # edited by a sysop. Physical re-materializations (::compact,
            # lazy-compaction threshold crossings) do NOT bump the version,
            # so they never classify as writes on either side.
            # Per-relation conflict scope mirrors the reference's
            # per-relation locking — a base-side create/drop of a relation
            # this txn never touched must NOT abort it.
            touched: set = set()
            for n, r in shadow_rels.items():
                if n not in snap or (r.created_seq, r.version) != snap[n]:
                    touched.add(n)
                elif self._meta_snapshot.get(n) != _rel_meta_fingerprint(r):
                    touched.add(n)
            for n in snap:
                if n not in shadow_rels:  # dropped inside the txn
                    touched.add(n)
            for n in sorted(touched):
                cur = self.base.relations.get(n)
                if n in snap:
                    if cur is None:
                        raise QueryError(
                            f"write-write conflict on relation {n!r}: "
                            "concurrently removed")
                    if (cur.created_seq, cur.version) != snap[n]:
                        raise QueryError(
                            f"write-write conflict on relation {n!r}: "
                            "concurrent mutation")
                elif cur is not None:
                    # created both here and concurrently in base
                    raise QueryError(
                        f"write-write conflict on relation {n!r}: "
                        "concurrently created")
            # publish: this txn's versions for touched relations, the
            # base's CURRENT versions for everything else (so concurrent
            # creates/drops/mutations of untouched relations survive)
            merged = dict(shadow_rels)
            for n, r in self.base.relations.items():
                if n not in touched:
                    merged[n] = r
            for n in list(merged):
                if n not in touched and n not in self.base.relations:
                    del merged[n]  # removed in base while untouched here
            self.base.relations = merged
            self.base.temp_relations = self.shadow.temp_relations
            for n in touched:
                self.base._sweep_stale_plan_entries(n)
        self.done = True

    def abort(self) -> None:
        self.done = True

    def __enter__(self):
        return self

    def __exit__(self, exc_type, exc, tb):
        if not self.done:
            if exc_type is None:
                self.commit()
            else:
                self.abort()
        return False
