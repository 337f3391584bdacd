"""Translate normalized rule clauses into DataFrame plans.

This is the analogue of the reference's compile step
(cozo-core/src/query/compile.rs:112-163) — but instead of building
tuple-at-a-time RelAlgebra iterators we emit a declarative DataFrame tree and
let Catalyst choose physical operators (hash/sort-merge/broadcast joins,
pushdown, pruning — see SURVEY §4 for the rewrite-by-rewrite mapping).

Safety ordering (reference query/reorder.rs:34-242) happens here as a greedy
consume loop: positive atoms and satisfiable unifications bind variables;
negations and filters run once their variables are bound. Residual filter
*placement* is irrelevant for performance — Catalyst pushes filters through
joins — so correctness ordering is all we enforce.
"""

from __future__ import annotations

import itertools
from typing import Callable, Optional

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from cozo_spark.datalog.ast import (
    Call, Cond, Conj, Const, Disj, HeadAggr, HeadVar, ListEx, NamedRelApply,
    Negation, ObjectEx, Param, RelApply, RuleApply, RuleClause, SearchApply,
    Unify, Var, expr_vars,
)
from cozo_spark.functions.aggregates import AGGREGATIONS
from cozo_spark.functions.scalar import SCALAR_FUNCTIONS
from cozo_spark.datalog.parser import const_eval, ParseError


class QueryError(Exception):
    pass


# --- expression compilation ---------------------------------------------------

def compile_expr(e, bound: set, typer=None) -> Column:
    """Cozo expression AST → pyspark Column tree (Catalyst does codegen —
    replaces the reference's stack bytecode, data/expr.rs Expr::compile).

    ``typer(var_name) -> dtype-string | None`` resolves the handful of
    polymorphic Cozo functions (length, first/last, ...) that dispatch on
    the runtime type — the bound DataFrame's schema is the type oracle.
    """
    if isinstance(e, Const):
        return F.lit(e.value)
    if isinstance(e, Var):
        if e.name not in bound:
            raise QueryError(f"unbound variable {e.name!r} in expression")
        return F.col(e.name)
    if isinstance(e, Param):
        raise QueryError(f"unresolved parameter ${e.name}")
    if isinstance(e, ListEx):
        # Cozo lists are heterogeneous; Spark arrays are not. When element
        # types are statically known to DIFFER (beyond numeric widening),
        # compile to a struct with positional fields _0.._n — the Spark
        # shape of a Cozo "pair" (e.g. min_cost's [path, cost],
        # aggr.rs:800-880). first/last/get are field-aware on these.
        kinds = [_spark_item_type(x, typer) for x in e.items]
        if (len(e.items) > 1 and all(k is not None for k in kinds)
                and len({_num_norm(k) for k in kinds}) > 1):
            return F.struct(*[
                compile_expr(x, bound, typer).alias(f"_{i}")
                for i, x in enumerate(e.items)])
        return F.array(*[compile_expr(x, bound, typer) for x in e.items])
    if isinstance(e, ObjectEx):
        kvs = []
        for k, v in e.pairs:
            kvs.append(compile_expr(k, bound, typer))
            kvs.append(compile_expr(v, bound, typer))
        return F.to_json(F.create_map(*kvs))
    if isinstance(e, Call):
        if e.fn == "concat_op":
            # `++` is polymorphic concat (strings, lists, json merge) —
            # F.concat covers strings and arrays
            return F.concat(*[compile_expr(a, bound, typer) for a in e.args])
        if e.fn == "if":
            args = [compile_expr(a, bound, typer) for a in e.args]
            return F.when(args[0], args[1]).otherwise(args[2] if len(args) > 2 else F.lit(None))
        if e.fn == "json_get" and len(e.args) == 2:
            if not isinstance(e.args[1], Const):
                raise QueryError("JSON path (`->` key) must be a constant")
            return SCALAR_FUNCTIONS["json_get"](
                compile_expr(e.args[0], bound, typer), e.args[1].value)
        if e.fn == "format_timestamp" and len(e.args) >= 2:
            # date_format needs a Python format string, not a Column
            if not isinstance(e.args[1], Const):
                raise QueryError("format_timestamp format must be a constant")
            return SCALAR_FUNCTIONS["format_timestamp"](
                compile_expr(e.args[0], bound, typer), e.args[1].value)
        if e.fn in _TYPE_PREDICATES and len(e.args) == 1:
            t = _static_type(e.args[0], typer)
            verdict = _TYPE_PREDICATES[e.fn](t) if t is not None else None
            if verdict is True:
                # a NULL in a typed column is Null, not that type
                return compile_expr(e.args[0], bound, typer).isNotNull()
            if verdict is False:
                return F.lit(False)
        if e.fn in ("eq", "neq") and len(e.args) == 2:
            # Cozo's total order compares ANY two values: values of different
            # type classes are simply unequal (value.rs:143-145). Spark would
            # instead cast and throw ('AAA' = 0 → CAST_INVALID_INPUT), so
            # fold statically-incompatible comparisons to constants.
            c1 = _type_class(_spark_item_type(e.args[0], typer))
            c2 = _type_class(_spark_item_type(e.args[1], typer))
            if c1 is not None and c2 is not None and c1 != c2:
                return F.lit(e.fn == "neq")
        if e.fn in ("gt", "ge", "lt", "le", "eq", "neq", "add", "sub",
                    "minus") and len(e.args) == 2:
            # Reference semantics: timestamps ARE float seconds-since-epoch
            # (now()/parse_timestamp return Float, functions.rs:2441-2526);
            # only our parquet reader keeps a TIMESTAMP column type. When a
            # timestamp meets a number (e.g. `sd > parse_timestamp(d) -
            # 86400*120`), compare/compute in epoch seconds. String
            # comparisons (`sd > '1998-11-15'`) stay native — Spark coerces
            # the literal to a timestamp, which is both faster and prunable.
            t1 = _spark_item_type(e.args[0], typer)
            t2 = _spark_item_type(e.args[1], typer)
            _ts = ("timestamp", "timestamp_ntz")
            _nm = _INT_T + _FLOAT_T
            if (t1 in _ts and t2 in _nm) or (t2 in _ts and t1 in _nm):
                a0 = compile_expr(e.args[0], bound, typer)
                a1 = compile_expr(e.args[1], bound, typer)
                if t1 in _ts:
                    a0 = F.unix_micros(a0.cast("timestamp")) / F.lit(1e6)
                if t2 in _ts:
                    a1 = F.unix_micros(a1.cast("timestamp")) / F.lit(1e6)
                return SCALAR_FUNCTIONS[e.fn](a0, a1)
        if e.fn in ("length", "reverse", "first", "last") and len(e.args) == 1:
            t = _static_type(e.args[0], typer)
            if e.fn in ("first", "last") and t is not None and t.startswith("struct<_0"):
                n = _struct_field_count(t)
                field = "_0" if e.fn == "first" else f"_{n - 1}"
                return compile_expr(e.args[0], bound, typer).getField(field)
            if e.fn == "length" and t is not None and t.startswith("array"):
                return F.size(compile_expr(e.args[0], bound, typer)).cast("long")
            if e.fn == "length" and t is not None and t.startswith("struct<_0"):
                return F.lit(_struct_field_count(t)).cast("long")
            if e.fn == "length" and t is not None:
                return F.length(compile_expr(e.args[0], bound, typer)).cast("long")
        if (e.fn in ("get", "maybe_get") and len(e.args) == 2
                and isinstance(e.args[1], Const)):
            t = _static_type(e.args[0], typer)
            if t is not None and t.startswith("struct<_0"):
                return compile_expr(e.args[0], bound, typer).getField(
                    f"_{int(e.args[1].value)}")
        if e.fn not in SCALAR_FUNCTIONS:
            raise QueryError(f"unknown function {e.fn!r}")
        return SCALAR_FUNCTIONS[e.fn](*[compile_expr(a, bound, typer) for a in e.args])
    raise QueryError(f"cannot compile expression {e!r}")


# Column-type → answer for the runtime type predicates (functions.rs:
# 1454-1563): Spark columns are statically typed, so the schema is the type
# tag. Returning None falls through to the dynamic fallback in scalar.py
# (try_cast probes for untyped literals).
_INT_T = ("bigint", "int", "smallint", "tinyint")
_FLOAT_T = ("double", "float")
_TYPE_PREDICATES = {
    "is_list": lambda t: t.startswith("array"),
    "is_vec": lambda t: t in ("array<float>", "array<double>"),
    "is_bytes": lambda t: t == "binary",
    "is_int": lambda t: True if t in _INT_T else (False if t in _FLOAT_T or t in ("string", "boolean", "binary") or t.startswith("array") else None),
    "is_float": lambda t: True if t in _FLOAT_T else (False if t in _INT_T or t in ("string", "boolean", "binary") or t.startswith("array") else None),
    "is_num": lambda t: True if t in _INT_T or t in _FLOAT_T else (False if t in ("string", "boolean", "binary") or t.startswith("array") else None),
    "is_string": lambda t: True if t == "string" else (False if t in _INT_T or t in _FLOAT_T or t in ("boolean", "binary") or t.startswith("array") else None),
    "is_uuid": lambda t: False if t != "string" and not t.startswith("void") else None,
}


def _static_type(e, typer):
    if isinstance(e, Var) and typer is not None:
        return typer(e.name)
    if isinstance(e, ListEx):
        return "array"
    if isinstance(e, Const):
        if isinstance(e.value, str):
            return "string"
        if isinstance(e.value, (list, tuple)):
            return "array"
    if isinstance(e, Call) and e.fn in ("list", "sorted", "append", "prepend",
                                        "slice", "chunks", "windows", "split", "chars"):
        return "array"
    return None


_ARITH_FNS = ("add", "sub", "mul", "div", "minus", "mod", "pow", "abs",
              "floor", "ceil", "round", "signum", "exp", "ln", "sqrt")


def _spark_item_type(e, typer) -> Optional[str]:
    """Best-effort Spark dtype of a list-literal element (None = unknown)."""
    if isinstance(e, Var) and typer is not None:
        return typer(e.name)
    if isinstance(e, Const):
        v = e.value
        if isinstance(v, bool):
            return "boolean"
        if isinstance(v, int):
            return "bigint"
        if isinstance(v, float):
            return "double"
        if isinstance(v, str):
            return "string"
    if isinstance(e, Call):
        if e.fn in _ARITH_FNS:
            return "double"
        if e.fn in ("first", "last") and len(e.args) == 1:
            t = _spark_item_type(e.args[0], typer)
            if t is not None and t.startswith("struct<_0"):
                n = _struct_field_count(t)
                idx = 0 if e.fn == "first" else n - 1
                return _struct_field_type(t, idx)
    return None


def _num_norm(t: str) -> str:
    """Numeric types widen inside array() — treat them as one class."""
    return "num" if t in ("bigint", "int", "smallint", "tinyint",
                          "double", "float") else t


def _type_class(t: Optional[str]) -> Optional[str]:
    """Coarse Cozo type class of a Spark dtype (None = unknown)."""
    if t is None:
        return None
    t = _num_norm(t)
    if t in ("num", "string", "boolean", "binary"):
        return t
    if t.startswith("array"):
        return "array"
    if t.startswith("struct"):
        return "struct"
    return None


def _struct_fields(dtype: str) -> list:
    """Top-level 'name:type' fields of a struct<...> dtype string."""
    inner = dtype[len("struct<"):-1]
    depth, cur, out = 0, "", []
    for ch in inner:
        if ch in "<([":
            depth += 1
        elif ch in ">)]":
            depth -= 1
        if ch == "," and depth == 0:
            out.append(cur)
            cur = ""
        else:
            cur += ch
    if cur:
        out.append(cur)
    return out


def _struct_field_count(dtype: str) -> int:
    return len(_struct_fields(dtype))


def _struct_field_type(dtype: str, idx: int) -> Optional[str]:
    fields = _struct_fields(dtype)
    if 0 <= idx < len(fields) and ":" in fields[idx]:
        return fields[idx].split(":", 1)[1]
    return None


def try_const(e):
    try:
        return True, const_eval(e)
    except (ParseError, Exception):
        return False, None


# --- clause translation --------------------------------------------------------

Resolver = Callable[[str], Optional[DataFrame]]


def flatten_conjunction(atoms: list) -> list:
    out = []
    for a in atoms:
        if isinstance(a, Conj):
            out.extend(flatten_conjunction(a.atoms))
        else:
            out.append(a)
    return out


def negation_normal_form(atom):
    """Push negations down to leaf atoms (reference logical.rs:61-130):
    ¬(A ∧ B) → ¬A ∨ ¬B, ¬(A ∨ B) → ¬A ∧ ¬B, ¬¬A → A. Safety of the
    resulting leaf negations (all vars bound) is enforced at translation."""
    if isinstance(atom, Conj):
        return Conj([negation_normal_form(a) for a in atom.atoms])
    if isinstance(atom, Disj):
        return Disj([negation_normal_form(a) for a in atom.branches])
    if isinstance(atom, Negation):
        inner = atom.atom
        if isinstance(inner, Negation):
            return negation_normal_form(inner.atom)
        if isinstance(inner, Conj):
            return Disj([negation_normal_form(Negation(a)) for a in inner.atoms])
        if isinstance(inner, Disj):
            return Conj([negation_normal_form(Negation(a)) for a in inner.branches])
        return atom
    return atom


def expand_disjunctions(body: list) -> list[list]:
    """NNF then DNF expansion (reference query/logical.rs:61-238): negations
    are pushed to leaves, then every Disj in the body multiplies the clause
    into one conjunction per branch."""
    body = flatten_conjunction([negation_normal_form(a) for a in body])
    choice_sets = []
    for a in body:
        if isinstance(a, Disj):
            branches = []
            for b in a.branches:
                branches.append(flatten_conjunction([b]))
            choice_sets.append(branches)
        else:
            choice_sets.append([[a]])
    expanded = []
    for combo in itertools.product(*choice_sets):
        conj = []
        for part in combo:
            conj.extend(part)
        # nested disjunctions can surface again after flattening
        if any(isinstance(x, Disj) for x in conj):
            expanded.extend(expand_disjunctions(conj))
        else:
            expanded.append(conj)
    return expanded


def _atom_output_vars(atom) -> set:
    if isinstance(atom, (RuleApply, RelApply)):
        return {a.name for a in atom.args if isinstance(a, Var) and a.name != "_"}
    if isinstance(atom, NamedRelApply):
        out = set()
        for col, e in atom.pairs.items():
            if e is None:
                out.add(col)
            elif isinstance(e, Var) and e.name != "_":
                out.add(e.name)
        return out
    if isinstance(atom, Unify):
        return {atom.var}
    return set()


def _atom_required_vars(atom) -> set:
    """Vars that must already be bound for the atom to be processable."""
    if isinstance(atom, (RuleApply, RelApply)):
        req = set()
        for a in atom.args:
            if not isinstance(a, (Var, Const)):
                req |= expr_vars(a)
        if isinstance(atom, RelApply) and atom.validity is not None:
            req |= expr_vars(atom.validity)
        return req
    if isinstance(atom, NamedRelApply):
        req = set()
        for col, e in atom.pairs.items():
            if e is not None and not isinstance(e, (Var, Const)):
                req |= expr_vars(e)
        if atom.validity is not None:
            req |= expr_vars(atom.validity)
        return req
    if isinstance(atom, Unify):
        return expr_vars(atom.expr)
    if isinstance(atom, Cond):
        return expr_vars(atom.expr)
    if isinstance(atom, Negation):
        return set()  # handled specially: needs at least one shared bound var
    return set()


def _df_typer(df):
    if df is None:
        return None
    types = dict(df.dtypes)
    return types.get


def _prune_keys(keys: list) -> list:
    """Minimal candidate-key sets: dedupe, drop supersets, cap the list."""
    uniq: list = []
    for k in sorted(set(keys), key=len):
        if not any(u <= k for u in uniq):
            uniq.append(k)
    return uniq[:6]


class ClauseTranslator:
    """Translates one flat conjunction into a DataFrame whose columns are the
    clause's bound variables.

    Key-FD tracking: alongside ``bound`` we maintain ``self._ukeys`` — sets of
    variables provably forming a unique key of the running frame (seeded from
    stored relations' declared PKs and derived rules' set semantics, and
    propagated through equi-joins, filters and scalar unifications). When a
    key set survives into the head projection, the set-semantics
    ``distinct()`` is provably a no-op and is elided — at cluster scale this
    removes a full shuffle from every key-preserving query. The reference
    needs no such step because its B-tree iterators yield deduplicated tuples
    by construction (query/ra.rs StoredRA); Catalyst has no PK metadata, so
    we carry it here."""

    def __init__(self, spark, resolver: Resolver, key_resolver=None,
                 search_resolver=None, rule_unique_resolver=None,
                 trusted_key_resolver=None):
        self.spark = spark
        self.resolver = resolver
        # key_resolver(name) -> list of PK column names (or None): needed by
        # validity as-of reads, whose dedup window partitions on the key prefix
        self.key_resolver = key_resolver or (lambda name: None)
        # trusted_key_resolver(name) -> PK columns rows are KNOWN unique on
        # (may be a narrower contract than key_resolver — e.g. frames
        # registered without explicit keys make no uniqueness promise)
        self.trusted_key_resolver = trusted_key_resolver or (lambda name: None)
        # search_resolver(rel, idx, opts, columns) -> (DataFrame, key_unique):
        # executes ~rel:idx search atoms (HNSW/FTS/LSH, engine-provided;
        # see operators.indices.search)
        self.search_resolver = search_resolver
        # rule_unique_resolver(name) -> frozenset of column POSITIONS forming
        # a unique key of a rule store (engine-provided), or None
        self.rule_unique_resolver = rule_unique_resolver or (lambda name: None)
        # set by _positional_frame/_named_frame/_search_frame for _join
        self._frame_keys: list = []
        # True after translate() iff the head projection was provably
        # duplicate-free and distinct() was skipped
        self.last_unique: bool = False
        # the body frame's unique-key variable sets after translate() (the
        # final ``_ukeys``): lets a caller that filters or projects the
        # head further decide whether its own dedup is a no-op
        self.last_ukeys: tuple = ()

    def translate(self, head, body: list, raw: bool = False) -> DataFrame:
        atoms = list(body)
        df: Optional[DataFrame] = None
        bound: set = set()
        self._ukeys: list = []
        self.last_unique = False
        self.last_ukeys = ()
        progress = True
        deferred_negs: list[Negation] = []
        while atoms and progress:
            progress = False
            for i, atom in enumerate(atoms):
                if isinstance(atom, Negation):
                    continue  # negations go last (stratified within clause)
                if isinstance(atom, Cond) and not expr_vars(atom.expr) <= bound:
                    continue
                if isinstance(atom, Unify):
                    if not expr_vars(atom.expr) <= bound:
                        continue
                else:
                    if not _atom_required_vars(atom) <= bound:
                        continue
                df, bound = self._apply_atom(df, bound, atom)
                atoms.pop(i)
                progress = True
                break
        deferred_negs = [a for a in atoms if isinstance(a, Negation)]
        rest = [a for a in atoms if not isinstance(a, Negation)]
        if rest:
            missing = set()
            for a in rest:
                missing |= (_atom_required_vars(a) | expr_vars(getattr(a, "expr", Const(None)))) - bound
            raise QueryError(f"unsafe rule: cannot bind variables {sorted(missing)}")
        for neg in deferred_negs:
            df, bound = self._apply_negation(df, bound, neg)
        if df is None:
            # Unit seed: a body of only constant conditions (ra.rs InlineFixed Unit)
            df = self.spark.range(1).select(F.lit(1).alias("__unit__"))
            bound = set()
            self._ukeys = [frozenset()]
        self.last_ukeys = tuple(self._ukeys)
        if raw:
            # positional projection of the head's input columns, multiplicity
            # preserved — the caller unions clause streams and aggregates once
            # (select by name + toDF: a third of the py4j round-trips of
            # per-column F.col(..).alias(..))
            names = [h.name if isinstance(h, HeadVar) else h.var for h in head]
            for nm in names:
                if nm not in bound:
                    raise QueryError(f"head variable {nm!r} unbound in body")
            return df.select(*names).toDF(
                *[f"__h{i}" for i in range(len(names))])
        return self._project_head(df, bound, head)

    # -- atom application -------------------------------------------------------

    def _apply_atom(self, df, bound, atom):
        if isinstance(atom, (RuleApply, RelApply)):
            right = self._positional_frame(atom)
            return self._join(df, bound, right)
        if isinstance(atom, NamedRelApply):
            right = self._named_frame(atom)
            return self._join(df, bound, right)
        if isinstance(atom, SearchApply):
            right = self._search_frame(atom)
            return self._join(df, bound, right)
        if isinstance(atom, Unify):
            return self._apply_unify(df, bound, atom)
        if isinstance(atom, Cond):
            if df is None:
                ok, v = try_const(atom.expr)
                if ok:
                    seed = self.spark.range(1 if v else 0).select(F.lit(1).alias("__unit__"))
                    self._ukeys = [frozenset()]
                    return seed, bound
                raise QueryError("condition before any bindings")
            return df.filter(compile_expr(atom.expr, bound, _df_typer(df))), bound
        raise QueryError(f"unexpected atom {atom!r}")

    def _positional_frame(self, atom) -> DataFrame:
        """Relation/rule atom → DataFrame with columns named by its vars;
        constants become filters; repeated vars become equality filters;
        non-var expressions are handled by the caller via join-on-computed."""
        base = self.resolver(atom.name)
        if base is None:
            raise QueryError(f"relation or rule not found: {atom.name!r}")
        if isinstance(atom, RelApply) and atom.validity is not None:
            base = self._as_of(base, atom.validity, atom.name)
        cols = base.columns
        if len(atom.args) > len(cols):
            raise QueryError(
                f"{atom.name}: too many arguments ({len(atom.args)} > arity {len(cols)})")
        sel = []
        filters = []
        seen: dict[str, str] = {}
        for i, arg in enumerate(atom.args):
            c = F.col(cols[i])
            if isinstance(arg, Var):
                if arg.name == "_":
                    continue
                if arg.name in seen:
                    filters.append(c == F.col(seen[arg.name]))
                else:
                    sel.append(c.alias(arg.name))
                    seen[arg.name] = cols[i]
            else:
                ok, v = try_const(arg)
                if not ok:
                    raise QueryError(
                        f"{atom.name}: non-constant argument expressions not yet supported")
                filters.append(c == F.lit(v))
        out = base
        for f in filters:
            out = out.filter(f)
        self._frame_keys = self._positional_keys(atom, cols)
        if not sel:
            return out.select(F.lit(1).alias("__exists__")).limit(1)
        return out.select(*sel)

    def _positional_keys(self, atom, cols: list) -> list:
        """Unique-key var sets of a positional atom's projected frame.

        A key POSITION is covered if its arg is a constant (fixes the value)
        or a variable (carries it); '_' drops the column and forfeits the
        claim. Repeated vars only add filters, preserving row uniqueness."""
        if isinstance(atom, RelApply) and atom.validity is not None:
            return []  # as-of reads: conservative, no claim
        if isinstance(atom, RuleApply):
            key_positions = self.rule_unique_resolver(atom.name)
        else:
            keynames = self.trusted_key_resolver(atom.name)
            if keynames is None or not all(k in cols for k in keynames):
                return []
            key_positions = frozenset(cols.index(k) for k in keynames)
        if key_positions is None:
            return []
        keyvars = set()
        for i, arg in enumerate(atom.args):
            if i not in key_positions:
                continue
            if isinstance(arg, Var):
                if arg.name == "_":
                    return []
                keyvars.add(arg.name)
            else:
                ok, _v = try_const(arg)
                if not ok:
                    return []
        # positions beyond the args given: unconstrained key columns exist
        # only if the atom under-specifies arity — then rows can duplicate
        if max(key_positions, default=-1) >= len(atom.args):
            return []
        return [frozenset(keyvars)]

    def _named_frame(self, atom: NamedRelApply) -> DataFrame:
        base = self.resolver(atom.name)
        if base is None:
            raise QueryError(f"relation not found: {atom.name!r}")
        if atom.validity is not None:
            base = self._as_of(base, atom.validity, atom.name)
        sel = []
        filters = []
        for col, e in atom.pairs.items():
            if col not in base.columns:
                raise QueryError(f"{atom.name}: no column {col!r}")
            c = F.col(col)
            if e is None or (isinstance(e, Var) and e.name == col):
                sel.append(c)
            elif isinstance(e, Var):
                if e.name == "_":
                    continue
                sel.append(c.alias(e.name))
            else:
                ok, v = try_const(e)
                if not ok:
                    raise QueryError(f"{atom.name}: non-constant field expr for {col}")
                filters.append(c == F.lit(v))
        out = base
        for f in filters:
            out = out.filter(f)
        self._frame_keys = ([] if atom.validity is not None
                            else self._named_keys(atom.name, atom.pairs))
        return out.select(*sel) if sel else out.select(F.lit(1).alias("__exists__")).limit(1)

    def _named_keys(self, name: str, pairs: dict) -> list:
        """Unique-key var sets of a frame whose rows are unique on relation
        ``name``'s trusted PK, projected through the atom's ``pairs``: every
        PK column must be either const-filtered or bound to a variable."""
        keynames = self.trusted_key_resolver(name)
        if keynames is None:
            return []
        keyvars = set()
        for k in keynames:
            if k not in pairs:
                return []
            e = pairs[k]
            if e is None:
                keyvars.add(k)
            elif isinstance(e, Var):
                if e.name == "_":
                    return []
                keyvars.add(e.name)
            else:
                ok, _v = try_const(e)
                if not ok:
                    return []
        return [frozenset(keyvars)]

    def _search_frame(self, atom: SearchApply) -> DataFrame:
        """`~rel:idx{bindings | opts}` → engine-executed index search joined
        like a named relation atom (HnswSearchRA/FtsSearchRA/LshSearchRA)."""
        if self.search_resolver is None:
            raise QueryError("index search atoms not available in this context")
        opts = {}
        for key, e in atom.opts.items():
            if key.startswith("bind_") and isinstance(e, Var):
                # bind_distance: dist etc. name an OUTPUT column after a var
                opts[key] = e.name
                continue
            ok, v = try_const(e)
            if ok:
                opts[key] = v
            elif key == "filter":
                # filter: expression over the relation's columns, applied
                # before top-k (HnswSearch filter, data/program.rs:989)
                opts[key] = e
            else:
                raise QueryError(f"search option {key!r} must be constant")
        # relation columns the atom reads: the search joins back to the
        # relation only when one of them is not its key
        columns = [c for c, e in atom.pairs.items()
                   if not (isinstance(e, Var) and e.name == "_")]
        base, key_unique = self.search_resolver(atom.rel, atom.idx, opts,
                                                columns)
        sel = []
        filters = []
        for col, e in atom.pairs.items():
            if col not in base.columns:
                raise QueryError(f"~{atom.rel}:{atom.idx}: no column {col!r}")
            c = F.col(col)
            if e is None or (isinstance(e, Var) and e.name == col):
                sel.append(c)
            elif isinstance(e, Var):
                if e.name == "_":
                    continue
                sel.append(c.alias(e.name))
            else:
                ok, v = try_const(e)
                if not ok:
                    raise QueryError(f"~{atom.rel}:{atom.idx}: non-constant binding for {col}")
                filters.append(c == F.lit(v))
        # bind_* columns surface as vars automatically
        for opt_key in ("bind_score", "bind_distance", "bind_vector",
                        "bind_field", "bind_field_idx"):
            if opt_key in opts and str(opts[opt_key]) in base.columns:
                sel.append(F.col(str(opts[opt_key])))
        out = base
        for f in filters:
            out = out.filter(f)
        # one row per document (FTS, LSH): the relation's key identifies a
        # row, so the entry rule's distinct goes as for a *rel{...} atom
        self._frame_keys = (self._named_keys(atom.rel, atom.pairs)
                            if key_unique else [])
        return out.select(*sel) if sel else out

    def _as_of(self, base: DataFrame, validity_expr, rel_name: str = "") -> DataFrame:
        """`@ ts` time-travel read (StoredWithValidityRA, query/ra.rs:1125-1243):
        last key column is a validity struct (ts µs, is_assert); visible fact =
        latest assertion at-or-before ts per key prefix."""
        from pyspark.sql import Window as W

        ok, at = try_const(validity_expr)
        if not ok:
            raise QueryError("validity timestamp must be a constant")
        if isinstance(at, str):
            if at == "NOW":
                import time
                at_us = int(time.time() * 1e6)
            elif at == "END":
                # ValidityTs::MAX — i64::MAX is reserved as the END probe
                # (writes reject it, reads may probe it): validity.rs:180-195
                at_us = (1 << 63) - 1
            else:
                import datetime as dt
                at_us = int(dt.datetime.fromisoformat(at.replace("Z", "+00:00")).timestamp() * 1e6)
        elif isinstance(at, float):
            at_us = int(at * 1e6)
        else:
            at_us = int(at)
        vcol = None
        for c, t in base.dtypes:
            if t.startswith("struct") and "ts" in t and "is_assert" in t:
                vcol = c
        if vcol is None:
            raise QueryError("relation has no validity column for @ read")
        # the validity column is the LAST key column (reference §1.3); the
        # dedup window partitions on the key columns before it
        keys = self.key_resolver(rel_name)
        if keys:
            prefix = [c for c in keys if c != vcol]
        else:
            prefix = [c for c in base.columns if c != vcol]
        # equal-ts tiebreak: asserts sort before retracts and the first
        # wins (the reference's (Reverse ts, Reverse is_assert) key order)
        w = W.partitionBy(*prefix).orderBy(
            F.col(f"{vcol}.ts").desc(), F.col(f"{vcol}.is_assert").desc())
        return (
            base.filter(F.col(f"{vcol}.ts") <= at_us)
            .withColumn("__rn", F.row_number().over(w))
            .filter((F.col("__rn") == 1) & F.col(f"{vcol}.is_assert"))
            .drop("__rn")
        )

    def _join(self, df, bound, right: DataFrame):
        rkeys = self._frame_keys
        if "__exists__" in right.columns:
            # atom with only constant args: acts as an existence guard
            # (≤1-row cross join — df row uniqueness preserved)
            if df is None:
                self._ukeys = [frozenset()]
                return right.drop("__exists__").select(F.lit(1).alias("__unit__")), bound
            return df.crossJoin(right.select(F.lit(1).alias("__e")).limit(1)).drop("__e"), bound
        rcols = set(right.columns)
        if df is None or set(df.columns) == {"__unit__"}:
            self._ukeys = _prune_keys(rkeys)
            return right, bound | rcols
        shared = frozenset(bound & rcols)
        # key-FD propagation across the equi-join: a side's key survives when
        # the OTHER side matches at most one row (its key ⊆ join columns);
        # the union of one key from each side is always a key of the output
        new_keys: list = []
        if shared:
            l_lookup = any(k <= shared for k in self._ukeys)
            r_lookup = any(k <= shared for k in rkeys)
            if r_lookup:
                new_keys += self._ukeys
            if l_lookup:
                new_keys += rkeys
        new_keys += [ka | kb for ka in self._ukeys for kb in rkeys]
        self._ukeys = _prune_keys(new_keys)
        if shared:
            out = df.join(right, on=sorted(shared), how="inner")
        else:
            out = df.crossJoin(right)
        return out, bound | rcols

    def _apply_unify(self, df, bound, atom: Unify):
        col = (compile_expr(atom.expr, bound, _df_typer(df))
               if not isinstance(atom.expr, Const) else F.lit(atom.expr.value))
        if df is None:
            df = self.spark.range(1).select(F.lit(1).alias("__unit__"))
            self._ukeys = [frozenset()]
        if atom.var == "_":
            # '_' never unifies, even with itself (do_not_unify_underscore,
            # runtime/tests.rs:210-244): `_ = e` binds nothing; `_ in e`
            # keeps the row multiplicity of the iteration but binds nothing
            if atom.multi:
                tmp = f"__wild_{len(df.columns)}"
                self._ukeys = []  # explode duplicates rows
                return df.withColumn(tmp, F.explode(col)).drop(tmp), bound
            return df, bound
        if atom.multi:
            # exploded list values may repeat — no uniqueness claim survives
            self._ukeys = []
            col = F.explode(col)
        if atom.var in bound:
            if atom.multi:
                return (df.withColumn("__u", col).filter(F.col("__u") == F.col(atom.var)).drop("__u"), bound)
            return df.filter(col == F.col(atom.var)), bound
        out = df.withColumn(atom.var, col)
        if "__unit__" in out.columns:
            out = out.drop("__unit__")
        return out, bound | {atom.var}

    def _apply_negation(self, df, bound, neg: Negation):
        atom = neg.atom
        if isinstance(atom, Cond):
            return df.filter(~compile_expr(atom.expr, bound, _df_typer(df))), bound
        if isinstance(atom, Unify):
            return df.filter(~(compile_expr(atom.expr, bound, _df_typer(df)) == F.col(atom.var))), bound
        if isinstance(atom, (RuleApply, RelApply, NamedRelApply)):
            if isinstance(atom, NamedRelApply):
                right = self._named_frame(atom)
            else:
                right = self._positional_frame(atom)
            shared = sorted(bound & (set(right.columns) - {"__exists__"}))
            if df is None:
                raise QueryError("negation with no prior bindings")
            if not shared:
                # `not rel[...]` with no shared vars: keep rows iff rel has no
                # matching tuple at all (anti-join against its 1-row witness)
                witness = right.limit(1).select(F.lit(1).alias("__w"))
                return df.join(witness, on=(F.lit(True)), how="left_anti"), bound
            return df.join(right.select(*shared).distinct(), on=shared, how="left_anti"), bound
        if isinstance(atom, Conj):
            raise QueryError("negation of conjunctions not supported; rewrite with an auxiliary rule")
        raise QueryError(f"cannot negate {atom!r}")

    # -- head projection -----------------------------------------------------------

    def _project_head(self, df: DataFrame, bound: set, head: list) -> DataFrame:
        aggrs = [h for h in head if isinstance(h, HeadAggr)]
        if not aggrs:
            cols = []
            for h in head:
                if h.name not in bound:
                    raise QueryError(f"head variable {h.name!r} unbound in body")
                cols.append(F.col(h.name))
            head_names = {h.name for h in head}
            if any(k <= head_names for k in self._ukeys):
                # a tracked unique key survives into the head: the rows are
                # already a set, distinct() would only add a shuffle
                self.last_unique = True
                return df.select(*cols)
            return df.select(*cols).distinct()
        raw = df.select(*[
            F.col(h.name if isinstance(h, HeadVar) else h.var).alias(f"__h{i}")
            for i, h in enumerate(head)])
        # groupBy output is unique on the group keys by construction
        self.last_unique = True
        return aggregate_head(raw, head)


def unique_names(names) -> list:
    """``names`` with each repeat of an earlier name given trailing
    underscores — DataFrame columns must be unique, while `?[a, a]` and
    `?[k, count(v), sum(v)]` are legal heads."""
    used: set = set()
    out = []
    for name in names:
        while name in used:
            name += "_"
        used.add(name)
        out.append(name)
    return out


def head_aggregates(head: list, inputs: list, dtype_of, names: list):
    """(group-key Columns, aggregation Columns, output names) of an
    aggregation head. Position i reads column ``inputs[i]`` (typed by
    ``dtype_of``) and is output as ``unique_names(names)[i]``; the
    Columns are plan-free, so a caller may build them once and apply
    them to any frame that carries the input columns."""
    names = unique_names(names)
    keys, aggs = [], []
    for i, h in enumerate(head):
        col = F.col(inputs[i])
        if isinstance(h, HeadVar):
            keys.append(col.alias(names[i]))
            continue
        if h.aggr not in AGGREGATIONS:
            raise QueryError(f"unknown aggregation {h.aggr!r}")
        spec = AGGREGATIONS[h.aggr]
        extra = [const_eval(e) for e in h.extra]
        try:
            agg_col = spec.build(col, *extra, dtype=dtype_of(inputs[i]))
        except TypeError:
            agg_col = spec.build(col, *extra)
        aggs.append(agg_col.alias(names[i]))
    return keys, aggs, names


def aggregate_head(raw: DataFrame, head: list) -> DataFrame:
    """Head aggregation over the raw positional match stream (__h0..__hN).

    Multiset semantics: the reference feeds every tuple the RA iterator
    yields into the aggregation objects (initial_rule_aggr_eval,
    eval.rs:381-506) — air_routes.rs:189-210 asserts `a[count(fr)] :=
    *route{fr}` is 50,637 (per-row multiplicity), NOT the distinct fr set.
    So no dedup before aggregating; set semantics applies to the aggregated
    OUTPUT (which groupBy produces deduplicated by construction). Output
    columns keep their var names, in head order."""
    keys, aggs, names = head_aggregates(
        head, [f"__h{i}" for i in range(len(head))], dict(raw.dtypes).get,
        [h.name if isinstance(h, HeadVar) else h.var for h in head])
    out = raw.groupBy(*keys).agg(*aggs) if keys else raw.agg(*aggs)
    return out.select(*names)
