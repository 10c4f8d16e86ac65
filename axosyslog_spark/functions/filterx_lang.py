"""FilterX language front-end: a filterx {} block compiled to
DataFrame transformations.

Reference: lib/filterx/ — grammar lib/filterx/filterx-grammar.ym,
evaluation lib/filterx/filterx-eval.c (FXE_SUCCESS/FAILURE/DROP),
expressions expr-*.c. The supported subset covers the statement forms
the functional tests exercise most:

    declare threshold = 1000;                 # block-local variable
    $latency = int($latency_ms) ?? 0;         # field assignment
    if ($latency > threshold) {
      $slow = true;
    } elif ($status == "error") {
      drop;                                   # FXE_DROP
    } else {
      $slow = false;
    };
    $status == "ok" or $retry < 3;            # falsy => FAILURE (drop
                                              # from this branch)
    done;                                     # accept, stop the block

Statements also include ``switch (sel) { case v: ... case lo..hi: ...
default: ... }`` with C-style jump-table fallthrough and ``break``
(lib/filterx/expr-switch.c, expr-break.c) and ``+=``
(expr-plus-assign.c; numeric add or string concat, dispatched
plan-time from the rhs form / declared column type).

Expressions: literals (string/number/bool/null), $field refs
(``${dotted.name}`` for dotted columns), locals, ``?? ``, ternary
``a ? b : c``, and/or/not, comparisons (type-aware ``==``/``!=`` plus
``<`` family on the natural column types, ``=~``/``!~`` regex),
arithmetic ``+ - * / %``, ``in [..]`` membership, dict/list literal
expressions (nested dict literals flatten to dotted keys),
string slicing ``s[a..b]`` (expr-string-operators.c: negative
indices, clamped, half-open), dict/list subscript ``m[k]`` and
``.name`` attribute access on locals, dict-member assignment
``d["k"] = v`` / ``$f["k"] = v`` and member unset (expr-set-subscript /
expr-setattr; one flat level — map<string,string> model), and a
builtin function registry (string/int/double/bool/datetime casts,
lower, upper, strip/lstrip/rstrip, len, startswith/endswith/includes,
strcasecmp, glob_match, md5/sha1/sha256/sha512,
base64_/hex_/url-encode+decode, utf8_validate/utf8_sanitize,
strptime/strftime/format_isodate, parse_kv, parse_json, format_kv,
format_json, keys, unset_empties, regexp_subst, regexp_search,
istype, repr, isset, unset marker via ``null`` —
lib/filterx/filterx-globals.c:97-194).

Compilation model (the whole point): a FilterX block is a per-message
imperative program, but its effect on a row is a pure function of
that row — so the compiler SYMBOLICALLY executes the block once at
plan time, tracking

    env      locals        name -> Column
    updates  field writes  name -> Column (merged via when/otherwise
                                           at branch joins)
    keep     Column        FXE_DROP/FAILURE accumulated predicate
    active   Column        'done' short-circuit state

and emits ONE withColumns + ONE filter — whole-stage codegen'd, no
Python per row (the reference grew an LLVM JIT for the same reason;
Catalyst is ours).
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from axosyslog_spark.functions.templates import macro
from axosyslog_spark.operators.csvparse import CsvColumn, CsvSpec, csv_columns, csv_tokens
from axosyslog_spark.operators.dateparse import parse_date, strftime_to_spark
from axosyslog_spark.operators.jsonflatten import flatten_json_column
from axosyslog_spark.operators.parse import rfc5424_header


class FilterXSyntaxError(ValueError):
    pass


# ---------------------------------------------------------------------------
# lexer
# ---------------------------------------------------------------------------

_TOKEN_RE = re.compile(
    r"""
    (?P<ws>\s+|\#[^\n]*)
  | (?P<string>"(?:\\.|[^"\\])*"|'(?:\\.|[^'\\])*')
  | (?P<regex>/(?:\\.|[^/\\])+/)
  | (?P<number>-?\d+\.\d+|-?\d+)
  | (?P<field>\$\{[^}]+\}|\$[A-Za-z_][A-Za-z0-9_.]*)
  | (?P<op>\?\?|===|!==|==|!=|<=|>=|=~|!~|&&|\|\||\+=|\.\.|[-+*/%<>=(){}\[\],;?:!.])
  | (?P<name>[A-Za-z_][A-Za-z0-9_]*)
    """,
    re.VERBOSE,
)


@dataclass(frozen=True)
class Tok:
    kind: str
    text: str
    pos: int


def _lex(src: str) -> list[Tok]:
    toks: list[Tok] = []
    i = 0
    while i < len(src):
        m = _TOKEN_RE.match(src, i)
        if not m:
            raise FilterXSyntaxError(f"lex error at {src[i:i+20]!r}")
        kind = m.lastgroup
        if kind != "ws":
            toks.append(Tok(kind, m.group(), i))
        i = m.end()
    return toks


# ---------------------------------------------------------------------------
# symbolic machine state
# ---------------------------------------------------------------------------


def _truthy(c: Column) -> Column:
    """FilterX statement truthiness: errors/false/null drop the message
    (filterx-eval.h FXE_FAILURE). Booleans stand; anything else is
    truthy when non-null and not '' / 'false' / 0."""
    s = c.cast("string")
    return F.coalesce(
        (s != "") & (s != "false") & (s != "0") & (s != "0.0"), F.lit(False)
    )


@dataclass
class _State:
    env: dict[str, Column] = field(default_factory=dict)
    updates: dict[str, Column] = field(default_factory=dict)
    keep: Column = None     # None = lit(True) (avoids useless AND chains)
    active: Column = None   # None = lit(True)
    # update_metric() increments recorded in statement order, each
    # already masked by the liveness at its statement site
    metrics: list = field(default_factory=list)
    # plan-time FilterX type of each local (_Compiler._arg_shape);
    # None when undecidable
    shapes: dict[str, str | None] = field(default_factory=dict)

    def fork(self) -> "_State":
        return _State(
            dict(self.env), dict(self.updates), self.keep, self.active,
            list(self.metrics), dict(self.shapes),
        )


def _and(a: Column | None, b: Column) -> Column:
    return b if a is None else a & b


def _merge(cond: Column, then: _State, other: _State, base: _State, ref) -> _State:
    """Join the two branch states back into one (phi nodes); ``ref``
    resolves a field name not written on some path to its prior value
    (frame column, or NULL for unknown open-schema names)."""
    out = base.fork()
    names = set(then.updates) | set(other.updates)
    for n in names:
        t = then.updates.get(n, base.updates.get(n))
        e = other.updates.get(n, base.updates.get(n))
        t = t if t is not None else ref(n)
        e = e if e is not None else ref(n)
        out.updates[n] = F.when(cond, t).otherwise(e)
    for n in set(then.env) | set(other.env):
        t, e = then.env.get(n), other.env.get(n)
        if t is not None and e is not None:
            out.env[n] = F.when(cond, t).otherwise(e)
            ts, es = then.shapes.get(n), other.shapes.get(n)
            out.shapes[n] = ts if ts == es else None
        elif t is not None:
            out.env[n] = t
            out.shapes[n] = then.shapes.get(n)
        else:
            out.env[n] = e
            out.shapes[n] = other.shapes.get(n)
    tk = then.keep if then.keep is not None else F.lit(True)
    ek = other.keep if other.keep is not None else F.lit(True)
    if then.keep is not None or other.keep is not None:
        out.keep = F.when(cond, tk).otherwise(ek)
    ta = then.active if then.active is not None else F.lit(True)
    ea = other.active if other.active is not None else F.lit(True)
    if then.active is not None or other.active is not None:
        out.active = F.when(cond, ta).otherwise(ea)
    # metric increments a branch added beyond the base fire only where
    # that branch was taken (statement-site masking covers outer
    # liveness; the branch condition is applied here, like the phis)
    nb = len(base.metrics)
    out.metrics = (
        list(base.metrics)
        + [(n, F.when(cond, c).otherwise(F.lit(0))) for n, c in then.metrics[nb:]]
        # else-branch mask must mirror the phi: when cond is NULL the
        # value phis route to the else branch (otherwise(...)), so the
        # else increment must fire too — F.when(~cond, c) would yield
        # 0 for NULL cond and the counters would undercount
        + [(n, F.when(cond, F.lit(0)).otherwise(c)) for n, c in other.metrics[nb:]]
    )
    return out


def _empty_list() -> Column:
    return F.array().cast("array<string>")


def _empty_dict() -> Column:
    return F.map_from_arrays(_empty_list(), _empty_list())


def _field_col(name: str) -> Column:
    # dotted open-schema names need backtick quoting
    return F.col(f"`{name}`") if "." in name else F.col(name)


# ---------------------------------------------------------------------------
# parser / compiler
# ---------------------------------------------------------------------------


class _Compiler:
    def __init__(
        self,
        toks: list[Tok],
        known_fields: set[str] | None,
        string_fields: set[str] | None = None,
    ):
        self.toks = toks
        self.i = 0
        self.known = known_fields
        self.string_fields = string_fields

    # --- token helpers ---
    def peek(self, k: int = 0) -> Tok | None:
        return self.toks[self.i + k] if self.i + k < len(self.toks) else None

    def next(self) -> Tok:
        t = self.peek()
        if t is None:
            raise FilterXSyntaxError("unexpected end of block")
        self.i += 1
        return t

    def eat(self, text: str) -> None:
        t = self.next()
        if t.text != text:
            raise FilterXSyntaxError(f"expected {text!r}, got {t.text!r}")

    def at(self, text: str) -> bool:
        t = self.peek()
        return t is not None and t.text == text

    # --- statements ---
    def block(self, st: _State) -> _State:
        while self.peek() is not None and not self.at("}"):
            st = self.stmt(st)
        return st

    def stmt(self, st: _State) -> _State:
        t = self.peek()
        if t.text == ";":
            self.next()
            return st
        if t.text == "drop":
            self.next()
            self.eat(";")
            # drop applies where this path is live
            live = st.active if st.active is not None else F.lit(True)
            st = st.fork()
            st.keep = _and(st.keep, ~live)
            return st
        if t.text == "done":
            self.next()
            self.eat(";")
            st = st.fork()
            st.active = F.lit(False)
            return st
        if t.text == "if":
            return self.if_stmt(st)
        if t.text == "switch":
            return self.switch_stmt(st)
        if t.text == "break":
            raise FilterXSyntaxError("break outside switch")
        if t.text == "declare":
            self.next()
            name = self.next()
            if name.kind != "name":
                raise FilterXSyntaxError(f"bad declare target {name.text!r}")
            self.eat("=")
            start = self.i
            val = self.expr(st)
            shape = self._arg_shape(self.toks[start:self.i], st)
            self.eat(";")
            st = st.fork()
            st.env[name.text] = val
            st.shapes[name.text] = shape
            return st
        if t.text == "update_metric" and (
            self.peek(1) is not None and self.peek(1).text == "("
        ):
            # update_metric("name" [, increment]); — a labeled counter
            # (modules/metrics-probe filterx-func-update-metric): the
            # batch analog piggybacks a masked sum on the block's
            # observe() pass, so counters cost no extra scan. Dynamic
            # label dicts are the metrics_probe groupBy's job.
            self.next()
            self.eat("(")
            nm = self.next()
            if nm.kind != "string":
                raise FilterXSyntaxError("update_metric() name must be a string literal")
            inc: Column = F.lit(1).cast("long")
            if self.at(","):
                self.next()
                inc = self.expr(st).cast("long")
            self.eat(")")
            self.eat(";")
            st = st.fork()
            live = st.active if st.active is not None else F.lit(True)
            if st.keep is not None:
                # rows already dropped upstream don't count (eval order)
                live = live & st.keep
            st.metrics.append(
                (_unquote(nm.text), F.when(live, inc).otherwise(F.lit(0)))
            )
            return st
        if t.text == "unset_empties" and (
            self.peek(1) is not None and self.peek(1).text == "("
        ):
            # statement form mutates its dict argument in place like
            # the reference (func-unset-empties.c returns true and
            # writes through the ref) — the rebuilt map stores back to
            # the $field / local
            tgt = self.peek(2)
            if tgt is None or tgt.kind not in ("field", "name"):
                raise FilterXSyntaxError(
                    "unset_empties() first argument must be a $field or "
                    "local dict"
                )
            val = self.expr(st)  # the whole call parses as a call expr
            self.eat(";")
            st = st.fork()
            base = self._target_base(tgt, st)
            live = st.active
            if live is not None:
                val = F.when(live, val).otherwise(base)
            self._target_store(tgt, val, st)
            return st
        if t.text == "unset":
            self.next()
            self.eat("(")
            tgt = self.next()
            if tgt.kind not in ("field", "name"):
                raise FilterXSyntaxError("unset() takes a $field or dict key")
            key = self._maybe_key(st)
            self.eat(")")
            self.eat(";")
            st = st.fork()
            if key is None:
                if tgt.kind != "field":
                    raise FilterXSyntaxError("unset() takes a $field")
                st.updates[self._field_name(tgt.text)] = F.lit(None)
                return st
            # unset(d.k) / unset($f["k"]): remove the key from the
            # dict value (expr-unset over a dict member)
            base = self._target_base(tgt, st)
            removed = F.map_filter(base, lambda kk, _v: kk != key)
            self._target_store(tgt, removed, st)
            return st
        if (
            t.kind in ("field", "name")
            and self.peek(1) is not None
            and self.peek(1).text in ("[", ".")
        ):
            # dict-member assignment: d["k"] = v; / $f.k = v;
            # (expr-set-subscript.c / expr-setattr.c). One path level —
            # our open-schema dicts are flat map<string,string> (deeper
            # literals flatten to dotted keys at parse time).
            save = self.i
            self.next()
            key = self._maybe_key(st)
            if key is not None and self.at("=") and not (
                self.peek(1) is not None and self.peek(1).text == "="
            ):
                self.next()
                val = self.expr(st)
                self.eat(";")
                st = st.fork()
                base = self._target_base(t, st)
                stripped = F.map_filter(base, lambda kk, _v: kk != key)
                newd = F.map_concat(
                    stripped, F.create_map(key, val.cast("string"))
                )
                live = st.active
                if live is not None:
                    newd = F.when(live, newd).otherwise(base)
                self._target_store(t, newd, st)
                return st
            self.i = save  # not an assignment: an expression statement
        if t.text == "set_fields" and (
            self.peek(1) is not None and self.peek(1).text == "("
        ):
            # func-set-fields.c: set_fields($dict,
            #   overrides={"k": [e1, e2] | e, ...},
            #   defaults={...}, replacements={...});
            # per field: first non-null override wins; else if the key
            # is present, first non-null replacement; else first
            # non-null default. The reference mutates the dict ref;
            # the batch analog writes the rebuilt map back to the
            # $field.
            self.next()
            self.eat("(")
            tgt = self.next()
            if tgt.kind != "field":
                raise FilterXSyntaxError(
                    "set_fields() first argument must be a $field dict"
                )
            name = self._field_name(tgt.text)
            specs: dict[str, dict[str, list[Column]]] = {}
            while self.at(","):
                self.next()
                kw = self.next()
                if kw.text not in ("overrides", "defaults", "replacements"):
                    raise FilterXSyntaxError(
                        f"set_fields(): unknown keyword {kw.text!r}"
                    )
                self.eat("=")
                self.eat("{")
                spec: dict[str, list[Column]] = {}
                while not self.at("}"):
                    k = self.next()
                    if k.kind != "string":
                        raise FilterXSyntaxError(
                            "set_fields(): field name must be a string literal"
                        )
                    self.eat(":")
                    exprs: list[Column] = []
                    if self.at("["):
                        self.next()
                        while not self.at("]"):
                            exprs.append(self.expr(st))
                            if self.at(","):
                                self.next()
                        self.eat("]")
                    else:
                        exprs.append(self.expr(st))
                    spec[_unquote(k.text)] = exprs
                    if self.at(","):
                        self.next()
                self.eat("}")
                specs[kw.text] = spec
            self.eat(")")
            self.eat(";")
            st = st.fork()
            prev = st.updates.get(name)
            d = prev if prev is not None else self._field_ref(name)
            fields = sorted(
                set().union(*[set(s) for s in specs.values()] or [set()])
            )
            for k in fields:
                ov = [c.cast("string") for c in specs.get("overrides", {}).get(k, [])]
                rep = [c.cast("string") for c in specs.get("replacements", {}).get(k, [])]
                dft = [c.cast("string") for c in specs.get("defaults", {}).get(k, [])]
                ovc = F.coalesce(*ov) if ov else F.lit(None).cast("string")
                repc = F.coalesce(*rep) if rep else F.lit(None).cast("string")
                dftc = F.coalesce(*dft) if dft else F.lit(None).cast("string")
                present = F.map_contains_key(d, F.lit(k))
                newv = (
                    F.when(ovc.isNotNull(), ovc)
                    .when(present, F.coalesce(repc, F.element_at(d, F.lit(k))))
                    .otherwise(dftc)
                )
                base = F.map_filter(d, lambda kk, _v: kk != F.lit(k))
                d = F.when(
                    newv.isNotNull(),
                    F.map_concat(base, F.create_map(F.lit(k), newv)),
                ).otherwise(base)
            live = st.active
            if live is not None:
                prev_d = prev if prev is not None else self._field_ref(name)
                d = F.when(live, d).otherwise(prev_d)
            st.updates[name] = d
            return st
        if t.text == "set_pri" and (
            self.peek(1) is not None and self.peek(1).text == "("
        ):
            # func-set-pri.c set_pri([value]): 0..191 inclusive, an
            # out-of-range or non-integer value is a runtime error ->
            # batch analog keeps the previous pri (masked when)
            self.next()
            self.eat("(")
            val = self.expr(st)
            self.eat(")")
            self.eat(";")
            st = st.fork()
            live = st.active if st.active is not None else F.lit(True)
            v = val.cast("string").try_cast("int")
            ok = live & v.between(0, 191)
            def _prev(n):
                u = st.updates.get(n)
                return u if u is not None else self._field_ref(n)

            prev_pri, prev_sev, prev_fac = (
                _prev("pri"), _prev("severity"), _prev("facility")
            )
            st.updates["pri"] = F.when(ok, v).otherwise(prev_pri)
            st.updates["severity"] = F.when(ok, v % 8).otherwise(prev_sev)
            st.updates["facility"] = F.when(
                ok, (v - v % 8) / 8
            ).otherwise(prev_fac).cast("int")
            return st
        if t.text == "set_timestamp" and (
            self.peek(1) is not None and self.peek(1).text == "("
        ):
            # func-timestamp.c set_timestamp(datetime,
            # stamp=["stamp","recvd"]): writes the frame's ts /
            # recvd_ts column
            self.next()
            self.eat("(")
            val = self.expr(st)
            which = "stamp"
            if self.at(","):
                self.next()
                kw = self.next()
                if kw.text != "stamp":
                    raise FilterXSyntaxError(
                        "set_timestamp: only the stamp= keyword is allowed"
                    )
                self.eat("=")
                wv = self.next()
                which = _unquote(wv.text)
                if which not in ("stamp", "recvd"):
                    raise FilterXSyntaxError(
                        'set_timestamp: stamp must be "stamp" or "recvd"'
                    )
            self.eat(")")
            self.eat(";")
            st = st.fork()
            name = "ts" if which == "stamp" else "recvd_ts"
            prev = st.updates.get(name)
            prev = prev if prev is not None else self._field_ref(name)
            live = st.active if st.active is not None else F.lit(True)
            st.updates[name] = F.when(
                live, val.cast("timestamp")
            ).otherwise(prev.cast("timestamp"))
            return st
        if t.kind == "field" and self.peek(1) is not None and self.peek(1).text in ("=", "+="):
            self.next()
            op = self.next().text
            name = self._field_name(t.text)
            prev0 = st.updates.get(name)
            prev0 = prev0 if prev0 is not None else self._field_ref(name)
            # += needs the add-vs-concat decision BEFORE parsing the rhs
            concat = op == "+=" and self._rhs_is_stringy()
            val = self.expr(st)
            self.eat(";")
            if op == "+=":
                val = self._plus(prev0, val, concat)
            st = st.fork()
            live = st.active
            if live is not None:
                val = F.when(live, val).otherwise(prev0)
            st.updates[name] = val
            return st
        if t.kind == "name" and self.peek(1) is not None and self.peek(1).text in ("=", "+="):
            # re-assignment of a declared local
            self.next()
            op = self.next().text
            concat = op == "+=" and self._rhs_is_stringy()
            start = self.i
            val = self.expr(st)
            shape = self._arg_shape(self.toks[start:self.i], st)
            self.eat(";")
            if op == "+=":
                if t.text not in st.env:
                    raise FilterXSyntaxError(f"unknown name {t.text!r} (declare it?)")
                val = self._plus(st.env[t.text], val, concat)
                shape = "string" if concat else None
            st = st.fork()
            st.env[t.text] = val
            st.shapes[t.text] = shape
            return st
        # bare expression statement: falsy => FAILURE (drop)
        val = self.expr(st)
        self.eat(";")
        st = st.fork()
        live = st.active if st.active is not None else F.lit(True)
        st.keep = _and(st.keep, ~live | _truthy(val))
        return st

    def if_stmt(self, st: _State) -> _State:
        self.eat("if")
        self.eat("(")
        cond = self.expr(st)
        self.eat(")")
        self.eat("{")
        then = self.block(st.fork())
        self.eat("}")
        other = st.fork()
        if self.at("elif"):
            self.toks[self.i] = Tok("name", "if", self.peek().pos)
            other = self.if_stmt(other)
        elif self.at("else"):
            self.next()
            self.eat("{")
            other = self.block(other)
            self.eat("}")
        if self.at(";"):
            self.next()
        cond = F.coalesce(cond, F.lit(False))
        return _merge(cond, then, other, st, self._field_ref)

    def switch_stmt(self, st: _State) -> _State:
        """switch (sel) { case v: ... case lo..hi: ... default: ... }

        Reference semantics (lib/filterx/expr-switch.c): case labels are
        jump targets into ONE shared statement body — execution enters
        at the first matching case (declaration order; `default` when
        none match, even if declared before later cases) and FALLS
        THROUGH to the end unless `break` stops it.

        Symbolic compilation: pass 1 scans the body, parsing every case
        label (expressions are side-effect-free) and counting statement
        slots without executing them; pass 2 re-runs the body, merging
        each statement's state with a per-slot gate
        ``entry <= slot AND NOT broken`` via the same phi-node _merge
        if/else uses — so drop/done/assignments inside cases compose
        exactly like branches. `break` occupies a slot and ORs its own
        gate into ``broken``."""
        self.eat("switch")
        self.eat("(")
        sel = self.expr(st)
        self.eat(")")
        self.eat("{")
        body_start = self.i
        # --- pass 1: case labels -> match conditions + targets ---
        cases: list[tuple[Column, int]] = []  # (match cond, target slot)
        default_target: int | None = None
        nstmts = 0
        while not self.at("}"):
            if self.at("case"):
                self.next()
                lo = self.expr(st)
                if self.at(".."):
                    # numeric range: lo <= sel < hi (expr-switch.c
                    # _switch_case_range_match)
                    self.next()
                    hi = self.expr(st)
                    cond = F.coalesce((sel >= lo) & (sel < hi), F.lit(False))
                else:
                    cond = sel.eqNullSafe(lo)
                self.eat(":")
                cases.append((cond, nstmts))
            elif self.at("default"):
                self.next()
                self.eat(":")
                if default_target is not None:
                    raise FilterXSyntaxError("duplicate default in switch")
                default_target = nstmts
            else:
                self._skip_stmt()
                nstmts += 1
        # first matching case in declaration order wins; no match ->
        # default (wherever declared) -> past-the-end (skip everything)
        entry = None
        for cond, target in cases:
            branch = (entry.when if entry is not None else F.when)(
                cond, F.lit(target)
            )
            entry = branch
        fallback = F.lit(default_target if default_target is not None else nstmts)
        entry = entry.otherwise(fallback) if entry is not None else fallback
        # --- pass 2: execute the body with per-slot gates ---
        self.i = body_start
        broken = F.lit(False)
        slot = 0
        while not self.at("}"):
            if self.at("case"):
                self.next()
                self.expr(st)
                if self.at(".."):
                    self.next()
                    self.expr(st)
                self.eat(":")
                continue
            if self.at("default"):
                self.next()
                self.eat(":")
                continue
            gate = (entry <= slot) & ~broken
            if self.at("break"):
                self.next()
                self.eat(";")
                broken = broken | gate
            else:
                executed = self.stmt(st.fork())
                st = _merge(gate, executed, st, st, self._field_ref)
            slot += 1
        self.eat("}")
        if self.at(";"):
            self.next()
        return st

    def _skip_stmt(self) -> None:
        """Token-level skip of one statement (pass 1 of switch): ends at
        `;` at depth 0, or at a `}` closing a block statement (if /
        nested switch) — not one followed by else/elif."""
        depth = 0
        while True:
            t = self.peek()
            if t is None:
                raise FilterXSyntaxError("unexpected end inside switch body")
            self.next()
            if t.text in ("(", "[", "{"):
                depth += 1
            elif t.text in (")", "]", "}"):
                depth -= 1
                if depth < 0:
                    raise FilterXSyntaxError("unbalanced braces in switch body")
                if depth == 0 and t.text == "}":
                    nxt = self.peek()
                    if nxt is not None and nxt.text in ("else", "elif"):
                        continue
                    if nxt is not None and nxt.text == ";":
                        self.next()
                    return
            elif depth == 0 and t.text == ";":
                return

    def _rhs_is_stringy(self) -> bool:
        """Plan-time add-vs-concat dispatch for `+=` (the reference's
        expr-plus-assign.c resolves it from runtime object types; a
        Column expression has no type yet, so decide from the syntactic
        form of the right-hand side): a leading string literal, or a
        string-typed field/local when a schema was provided, means
        string concatenation."""
        t = self.peek()
        if t is None:
            return False
        if t.kind == "string":
            return True
        if t.kind == "field":
            return self._field_name(t.text) in (self.string_fields or ())
        return False

    @staticmethod
    def _plus(a: Column, b: Column, concat: bool) -> Column:
        """expr-plus.c: numeric addition or string concatenation."""
        if concat:
            return F.concat(a.cast("string"), b.cast("string"))
        return a + b

    # --- expressions (precedence climbing) ---
    def expr(self, st: _State) -> Column:
        return self.coalesce_expr(st)

    def coalesce_expr(self, st: _State) -> Column:
        left = self.ternary_expr(st)
        if self.at("??"):
            self.next()
            right = self.coalesce_expr(st)
            return F.coalesce(left, right)
        return left

    def ternary_expr(self, st: _State) -> Column:
        cond = self.or_expr(st)
        if self.at("?"):
            self.next()
            a = self.expr(st)
            self.eat(":")
            b = self.expr(st)
            return F.when(F.coalesce(cond, F.lit(False)), a).otherwise(b)
        return cond

    def or_expr(self, st: _State) -> Column:
        left = self.and_expr(st)
        while self.at("or") or self.at("||"):
            self.next()
            left = _truthy(left) | _truthy(self.and_expr(st))
        return left

    def and_expr(self, st: _State) -> Column:
        left = self.not_expr(st)
        while self.at("and") or self.at("&&"):
            self.next()
            left = _truthy(left) & _truthy(self.not_expr(st))
        return left

    def not_expr(self, st: _State) -> Column:
        if self.at("not") or self.at("!"):
            self.next()
            return ~_truthy(self.not_expr(st))
        return self.cmp_expr(st)

    def cmp_expr(self, st: _State) -> Column:
        left = self.add_expr(st)
        t = self.peek()
        if t is None:
            return left
        if t.text in ("==", "==="):
            self.next()
            return left.eqNullSafe(self.add_expr(st))
        if t.text in ("!=", "!=="):
            self.next()
            return ~left.eqNullSafe(self.add_expr(st))
        if t.text in ("<", "<=", ">", ">="):
            op = self.next().text
            right = self.add_expr(st)
            res = {
                "<": left < right, "<=": left <= right,
                ">": left > right, ">=": left >= right,
            }[op]
            return F.coalesce(res, F.lit(False))
        if t.text in ("=~", "!~"):
            self.next()
            rx = self.next()
            if rx.kind == "regex":
                pat = rx.text[1:-1]
            elif rx.kind == "string":
                pat = _unquote(rx.text)
            else:
                raise FilterXSyntaxError(f"{t.text} needs a /regex/ or string")
            m = left.rlike(pat)
            return m if t.text == "=~" else ~F.coalesce(m, F.lit(False))
        if t.text == "in":
            self.next()
            self.eat("[")
            vals = []
            while not self.at("]"):
                lit = self.next()
                if lit.kind == "string":
                    vals.append(_unquote(lit.text))
                elif lit.kind == "number":
                    vals.append(float(lit.text) if "." in lit.text else int(lit.text))
                else:
                    raise FilterXSyntaxError("in [...] takes literals")
                if self.at(","):
                    self.next()
            self.eat("]")
            return left.isin(vals)
        return left

    def add_expr(self, st: _State) -> Column:
        lt = self.peek()
        left_stringy = lt is not None and (
            lt.kind == "string"
            or (
                lt.kind == "field"
                and self._field_name(lt.text) in (self.string_fields or ())
            )
        )
        left = self.mul_expr(st)
        while True:
            t = self.peek()
            if t is not None and t.kind == "number" and t.text.startswith("-"):
                # '3-2' lexes the '-2' as a negative literal: subtraction
                self.next()
                num = float(t.text) if "." in t.text else int(t.text)
                left = left + F.lit(num)
                continue
            if self.at("+") or self.at("-"):
                op = self.next().text
                # expr-plus.c: + concatenates when either side is a
                # string (same plan-time dispatch += uses)
                concat = op == "+" and (left_stringy or self._rhs_is_stringy())
                right = self.mul_expr(st)
                left = (
                    self._plus(left, right, concat) if op == "+" else left - right
                )
                # once a chain concatenates, the running value is a
                # string: `$m["src"] + "/" + $m["act"]` stays concat
                left_stringy = left_stringy or concat
                continue
            return left

    def mul_expr(self, st: _State) -> Column:
        left = self.primary(st)
        while self.at("*") or self.at("/") or self.at("%"):
            op = self.next().text
            right = self.primary(st)
            left = {"*": left * right, "/": left / right, "%": left % right}[op]
        return left

    def primary(self, st: _State) -> Column:
        return self._postfix(self._atom(st), st)

    def _postfix(self, e: Column, st: _State) -> Column:
        """[]-postfix operators: `e[a..b]` string slicing (lib/filterx/
        expr-string-operators.c — Python-style half-open, negative
        indices from the end, clamped; start > end yields NULL where
        the reference raises an eval error) and `e[k]` dict/list
        subscript (NULL when missing, like a failed getattr). `.name`
        attribute access (expr-getattr.c) is subscript sugar over our
        map-typed dicts."""
        while self.at("[") or self.at("."):
            if self.at("."):
                self.next()
                nm = self.next()
                if nm.kind != "name":
                    raise FilterXSyntaxError(
                        f"attribute access needs a name, got {nm.text!r}"
                    )
                e = F.try_element_at(e, F.lit(nm.text))
                continue
            self.next()
            if self.at(".."):
                self.next()
                end = self.expr(st)
                self.eat("]")
                e = _str_slice(e, None, end)
                continue
            first = self.expr(st)
            if self.at(".."):
                self.next()
                end = None if self.at("]") else self.expr(st)
                self.eat("]")
                e = _str_slice(e, first, end)
            else:
                self.eat("]")
                e = F.try_element_at(e, first)
        return e

    def _atom(self, st: _State) -> Column:
        t = self.next()
        if t.kind == "string":
            return F.lit(_unquote(t.text))
        if t.kind == "number":
            return F.lit(float(t.text) if "." in t.text else int(t.text))
        if t.kind == "field":
            name = self._field_name(t.text)
            if name in st.updates and st.updates[name] is not None:
                return st.updates[name]
            return self._field_ref(name)
        if t.text == "(":
            e = self.expr(st)
            self.eat(")")
            return e
        if t.text == "[":
            # list literal (expr-literal-container.c): elements are
            # expressions; the container is our array<string>
            vals: list[Column] = []
            while not self.at("]"):
                vals.append(self.expr(st).cast("string"))
                if self.at(","):
                    self.next()
            self.eat("]")
            if not vals:
                return _empty_list()
            return F.array(*vals)
        if t.text == "{":
            # dict literal (expr-literal-container.c): string keys,
            # expression values; nested dict literals flatten to
            # dotted keys at COMPILE time (the open-schema
            # map<string,string> model — same shape json-parser
            # produces)
            pairs = self._dict_literal_pairs(st, "")
            if not pairs:
                return _empty_dict()
            return F.create_map(
                *[x for k, v in pairs for x in (F.lit(k), v.cast("string"))]
            )
        if t.text == "true":
            return F.lit(True)
        if t.text == "false":
            return F.lit(False)
        if t.text == "null":
            return F.lit(None)
        if t.kind == "name":
            if self.at("("):
                return self.call(t.text, st)
            if t.text in st.env:
                return st.env[t.text]
            raise FilterXSyntaxError(f"unknown name {t.text!r} (declare it?)")
        raise FilterXSyntaxError(f"unexpected token {t.text!r}")

    def call(self, fn: str, st: _State) -> Column:
        self.eat("(")
        args: list[Column] = []
        raws: list[str | None] = []  # plan-time strings for fns that
        # need them (format patterns, type names, glob patterns)
        shapes: list[str | None] = []  # plan-time arg types (_arg_shape):
        # 'list' gives startswith/endswith/includes any-of semantics
        # (func-str.c); istype() reads them all
        kwargs: dict[str, Column] = {}
        kwraws: dict[str, str | None] = {}
        while not self.at(")"):
            t = self.peek()
            nxt = self.peek(1)
            # keyword argument: NAME '=' expr (expr-function.c named
            # args — assignment is statement-level, so '=' after a
            # bare name inside an arg list is unambiguous)
            if (
                t is not None and t.kind == "name"
                and nxt is not None and nxt.text == "="
                and (self.peek(2) is None or self.peek(2).text != "=")
            ):
                self.next(); self.next()
                vt = self.peek()
                raw = None
                if (
                    vt is not None
                    and self.peek(1) is not None
                    and self.peek(1).text in (",", ")")
                ):
                    if vt.kind == "string":
                        raw = _unquote(vt.text)
                    elif vt.text in ("true", "false"):
                        raw = vt.text
                kwraws[t.text] = raw
                kwargs[t.text] = self.expr(st)
                if self.at(","):
                    self.next()
                continue
            if (
                t is not None and t.kind == "string"
                and nxt is not None and nxt.text in (",", ")")
            ):
                raws.append(_unquote(t.text))
            else:
                raws.append(None)
            start = self.i
            args.append(self.expr(st))
            shapes.append(self._arg_shape(self.toks[start:self.i], st))
            if self.at(","):
                self.next()
        self.eat(")")
        if fn == "vars":
            # func-vars.c: dump the scope as a dict — declared
            # variables under their names, message-tied variables
            # (fields written in this block) under a '$' prefix;
            # exclude_msg_values=true drops the message-tied ones and
            # must be a boolean LITERAL (the reference ctor errors on
            # anything else)
            if "exclude_msg_values" in (kwargs | kwraws) and kwraws.get(
                "exclude_msg_values"
            ) not in ("true", "false"):
                raise FilterXSyntaxError(
                    "vars: exclude_msg_values must be a boolean literal"
                )
            entries: list[tuple[str, Column]] = [
                (n, c) for n, c in st.env.items() if c is not None
            ]
            if kwraws.get("exclude_msg_values") != "true":
                entries += [
                    ("$" + n, c)
                    for n, c in st.updates.items()
                    if c is not None
                ]
            if not entries:
                return _empty_dict()
            return F.create_map(
                *[x for k, v in entries for x in (F.lit(k), v.cast("string"))]
            )
        if fn == "load_vars":
            # func-vars.c filterx_function_load_vars_new: "function has
            # been deprecated and removed"
            raise FilterXSyntaxError(
                "load_vars() has been deprecated and removed"
            )
        return _FUNCS_DISPATCH(
            fn, args, raws, kwargs, kwraws, self.known, shapes
        )

    def _arg_shape(self, toks: list[Tok], st: _State) -> str | None:
        """The FilterX type of one call argument when plan time knows
        it: a literal's type, a whole [...] / {...} literal or a call of
        a builtin in _CALL_SHAPES ('list' / 'dict'), a local, typed by
        the value last assigned to it (_State.shapes), or a $field this
        block has not written, typed from ``string_fields`` like ``+=``
        ('string' or 'non-string').
        None when undecidable."""
        t = toks[0]
        call = int(t.kind == "name" and len(toks) > 1 and toks[1].text == "(")
        if call or t.text in ("[", "{"):
            depth = 0
            for k, u in enumerate(toks[call:], call):
                if u.kind == "op" and u.text in ("(", "[", "{"):
                    depth += 1
                elif u.kind == "op" and u.text in (")", "]", "}"):
                    depth -= 1
                if depth == 0:
                    if k != len(toks) - 1:
                        return None
                    if call:
                        return _CALL_SHAPES.get(t.text)
                    return "list" if t.text == "[" else "dict"
        if len(toks) != 1:
            return None
        if t.kind == "string":
            return "string"
        if t.kind == "number":
            return "double" if "." in t.text else "integer"
        if t.text in ("true", "false"):
            return "boolean"
        if t.text == "null":
            return "null"
        if t.kind == "name":
            return st.shapes.get(t.text)
        if t.kind == "field" and self.string_fields is not None:
            name = self._field_name(t.text)
            if name not in st.updates and (self.known is None or name in self.known):
                return "string" if name in self.string_fields else "non-string"
        return None

    def _maybe_key(self, st: _State) -> Column | None:
        """After a target token: parse ONE `["k"]` / `.name` path
        segment into a key Column; None when no path follows. Deeper
        paths are rejected (flat map model)."""
        key: Column | None = None
        if self.at("["):
            self.next()
            key = self.expr(st).cast("string")
            self.eat("]")
        elif self.at("."):
            self.next()
            nm = self.next()
            if nm.kind != "name":
                raise FilterXSyntaxError(
                    f"attribute access needs a name, got {nm.text!r}"
                )
            key = F.lit(nm.text)
        if key is not None and (self.at("[") or self.at(".")):
            raise FilterXSyntaxError(
                "nested dict-member assignment is not supported (flat "
                "map<string,string> model — use dotted keys)"
            )
        return key

    def _target_base(self, t: Tok, st: _State) -> Column:
        """Current value of an assignment target token (local or
        $field), honoring pending updates."""
        if t.kind == "field":
            name = self._field_name(t.text)
            pend = st.updates.get(name)
            return pend if pend is not None else self._field_ref(name)
        if t.text in st.env:
            return st.env[t.text]
        raise FilterXSyntaxError(f"unknown name {t.text!r} (declare it?)")

    def _target_store(self, t: Tok, val: Column, st: _State) -> None:
        """Store a rebuilt dict (member set/unset, unset_empties)."""
        if t.kind == "field":
            st.updates[self._field_name(t.text)] = val
        else:
            st.env[t.text] = val
            st.shapes[t.text] = "dict"

    def _dict_literal_pairs(
        self, st: _State, prefix: str
    ) -> list[tuple[str, Column]]:
        """Parse dict-literal pairs after the opening '{'; a nested
        '{' recurses with the dotted prefix."""
        pairs: list[tuple[str, Column]] = []
        while not self.at("}"):
            k = self.next()
            if k.kind != "string":
                raise FilterXSyntaxError(
                    "dict literal keys must be string literals"
                )
            self.eat(":")
            key = prefix + _unquote(k.text)
            if self.at("{"):
                self.next()
                pairs.extend(self._dict_literal_pairs(st, key + "."))
            else:
                pairs.append((key, self.expr(st)))
            if self.at(","):
                self.next()
        self.eat("}")
        return pairs

    # --- helpers ---
    def _field_name(self, tok_text: str) -> str:
        return tok_text[2:-1] if tok_text.startswith("${") else tok_text[1:]

    def _field_ref(self, name: str) -> Column:
        if self.known is not None and name not in self.known:
            # unset NV pair reads as null (logmsg unset semantics)
            return F.lit(None).cast("string")
        return _field_col(name)


def _str_slice(e: Column, start: Column | None, end: Column | None) -> Column:
    """expr-string-operators.c _str_slice: negative indices count from
    the end, both clamp to [0, len], start > end is an error (NULL
    here). Half-open [start, end)."""
    s = e.cast("string")
    ln = F.length(s)

    def norm(i: Column | None, dflt: Column) -> Column:
        if i is None:
            return dflt
        i = i.cast("int")
        i = F.when(i < 0, ln + i).otherwise(i)
        return F.greatest(F.least(i, ln), F.lit(0))

    lo = norm(start, F.lit(0))
    hi = norm(end, ln)
    return F.when(lo <= hi, F.substring(s, lo + 1, hi - lo))


def _unquote(s: str) -> str:
    body = s[1:-1]
    return re.sub(r"\\(.)", lambda m: {"n": "\n", "t": "\t", "r": "\r"}.get(m.group(1), m.group(1)), body)


def _need_raw(fn: str, raws: list[str | None], i: int) -> str:
    if i >= len(raws) or raws[i] is None:
        raise FilterXSyntaxError(
            f"{fn}() argument {i + 1} must be a string literal"
        )
    return raws[i]


# plan-time result shape of the builtins that always build a dict
# (map<string,string>) or a list (array)
_CALL_SHAPES = {
    **dict.fromkeys((
        "parse_kv", "parse_json", "parse_xml", "parse_windows_eventlog_xml",
        "parse_cef", "parse_leef", "json", "object", "flatten",
        "unset_empties", "vars",
    ), "dict"),
    **dict.fromkeys(("keys", "json_array", "dict_to_pairs"), "list"),
}
_FX_TYPES = ("string", "integer", "double", "boolean", "null", "list", "dict")


def _istype(shape: str | None, type_name: str) -> Column:
    """istype() (lib/filterx/func-istype.c) folded at plan time from
    the operand's shape (_Compiler._arg_shape). A Column has no runtime
    object type, so an operand or type name the shape cannot decide is
    a compile error rather than a guess."""
    if type_name not in _FX_TYPES:
        raise FilterXSyntaxError(f"istype: unsupported type name {type_name!r}")
    if shape == "non-string" and type_name == "string":
        return F.lit(False)
    if shape not in _FX_TYPES:
        raise FilterXSyntaxError(
            f"istype: cannot decide at plan time whether the operand is {type_name!r}"
        )
    return F.lit(shape == type_name)


def _unset_empties(
    m: Column,
    targets: Column | None,
    replacement: Column | None,
    ignorecase: bool,
) -> Column:
    """unset_empties() — lib/filterx/func-unset-empties.c over the
    flat open-schema map. Defaults remove NULL and "" values; an
    explicit ``targets`` array REPLACES the defaults entirely (NULL is
    removed only when the list carries a null element — the reference's
    targets=[..., null, ...]); ``ignorecase`` folds string comparison;
    ``replacement`` substitutes the value instead of removing the key."""
    if targets is None:
        def is_t(v: Column) -> Column:
            return v.isNull() | (v == "")
    else:
        tlist = (
            F.transform(targets, lambda x: F.lower(x)) if ignorecase
            else targets
        )
        null_target = F.exists(targets, lambda x: x.isNull())

        def is_t(v: Column) -> Column:
            tv = F.lower(v) if ignorecase else v
            return F.when(v.isNull(), null_target).otherwise(
                F.coalesce(F.array_contains(tlist, tv), F.lit(False))
            )

    if replacement is not None:
        return F.transform_values(
            m, lambda _k, v: F.when(is_t(v), replacement).otherwise(v)
        )
    return F.map_filter(
        m, lambda _k, v: ~F.coalesce(is_t(v), F.lit(True))
    )


def _FUNCS_DISPATCH(
    fn: str,
    a: list[Column],
    raws: list[str | None] = (),
    kwargs: dict[str, Column] | None = None,
    kwraws: dict[str, str | None] | None = None,
    known=None,
    shapes: list[str | None] | None = None,
) -> Column:
    one = a[0] if a else F.lit(None)
    kwargs = kwargs or {}
    kwraws = kwraws or {}
    if fn == "move":
        # filterx-globals.c: move() is an ownership/copy-elision hint
        # on the reference's object heap; columns are immutable
        # expressions, so it is the identity
        return one
    if fn == "format_syslog_5424":
        # filterx-func-format-syslog.c: format_syslog_5424(message,
        # add_octet_count=false, pri=, timestamp=, host=, program=,
        # pid=, msgid=). Absent pri/timestamp fall back to the
        # message's own columns when the frame has them (the
        # logmsg->pri / LM_TS_STAMP fallbacks); absent string fields
        # render '-'. Fraction digits simplified to whole seconds —
        # the same TS contract as parse.format_rfc5424.
        dash = lambda c: (  # noqa: E731
            F.when(
                F.coalesce(c.cast("string"), F.lit("")) == "", F.lit("-")
            ).otherwise(c.cast("string"))
        )
        pri = kwargs.get(
            "pri", F.col("pri") if known and "pri" in known else F.lit(13)
        )
        ts = kwargs.get(
            "timestamp", F.col("ts") if known and "ts" in known else None
        )
        # RFC5424 §6.2.3 requires the TIMESTAMP to carry a zone
        # designator: ISODATE's XXX renders 'Z' under the session's
        # pinned-UTC timezone (offset form elsewhere)
        ts_str = (
            F.coalesce(macro("ISODATE", ts.cast("timestamp")), F.lit("-"))
            if ts is not None
            else F.lit("-")
        )
        line = F.concat(
            rfc5424_header(
                F.coalesce(pri.cast("string"), F.lit("13")), ts_str,
                *[dash(kwargs.get(k, F.lit(""))) for k in ("host", "program", "pid", "msgid")],
            ),
            F.lit(" - "), F.coalesce(one.cast("string"), F.lit("")),
        )
        if "add_octet_count" in (kwargs | kwraws) and kwraws.get(
            "add_octet_count"
        ) not in ("true", "false"):
            # framing changes the output shape; a runtime-varying flag
            # can't be honored column-wise, so reject it loudly instead
            # of silently ignoring the argument
            raise FilterXSyntaxError(
                "format_syslog_5424: add_octet_count must be the literal "
                "true or false"
            )
        if kwraws.get("add_octet_count") == "true":
            # syslog-over-TCP framing: "<LEN> " where LEN counts the
            # UTF-8 bytes of the frame
            line = F.concat(
                F.octet_length(line).cast("string"), F.lit(" "), line
            )
        return line
    if fn == "string":
        return one.cast("string")
    if fn == "int":
        return one.cast("string").try_cast("bigint")
    if fn == "double":
        return one.cast("string").try_cast("double")
    if fn == "bool":
        return _truthy(one)
    if fn in ("lower", "lowercase"):
        return F.lower(one)
    if fn in ("upper", "uppercase"):
        return F.upper(one)
    if fn in ("str_strip", "strip"):
        return F.trim(one)
    if fn == "len":
        # func-len.c: a list or dict counts its elements
        if shapes and shapes[0] in ("list", "dict"):
            return F.size(one)
        return F.length(one.cast("string"))
    def _any_of(pred):
        # func-str.c: a list second argument means any-of (the
        # reference iterates the literal/array elements)
        if shapes and len(shapes) > 1 and shapes[1] == "list":
            return F.exists(a[1], pred)
        return pred(a[1])

    if fn == "startswith":
        return _any_of(lambda x: one.startswith(x))
    if fn == "endswith":
        return _any_of(lambda x: one.endswith(x))
    if fn == "includes":
        return _any_of(lambda x: one.contains(x))
    if fn == "md5":
        return F.md5(one.cast("binary"))
    if fn == "sha1":
        return F.sha1(one.cast("binary"))
    if fn == "sha256":
        return F.sha2(one.cast("binary"), 256)
    if fn == "isset":
        return one.isNotNull()
    if fn == "parse_kv":
        from axosyslog_spark.operators.kvscan import kv_pairs_to_map, kv_scan

        # dup-safe: repeated keys overwrite (last wins) instead of
        # aborting under mapKeyDedupPolicy=EXCEPTION
        return kv_pairs_to_map(kv_scan(one))
    if fn == "parse_json":
        return F.from_json(one, "map<string,string>")
    if fn == "format_kv":
        return F.array_join(
            F.transform(
                F.map_entries(one),
                lambda e: F.concat(e["key"], F.lit("="), e["value"]),
            ),
            " ",
        )
    if fn == "str_replace":
        return F.replace(one, a[1], a[2])
    # --- encode family (lib/filterx/func-encode.c) ---
    if fn == "base64_encode":
        return F.base64(one.cast("binary"))
    if fn == "base64_decode":
        return F.unbase64(one).cast("string")
    if fn == "urlencode":
        return F.url_encode(one)
    if fn == "urldecode":
        return F.url_decode(one)
    if fn == "hex_encode":
        # format_hex_string renders lowercase %02x
        return F.lower(F.hex(one.cast("binary")))
    if fn == "hex_decode":
        return F.unhex(one).cast("string")
    if fn == "sha512":
        return F.sha2(one.cast("binary"), 512)
    # --- str family (lib/filterx/func-str.c, func-str-transform.c) ---
    if fn == "str_lstrip":
        return F.ltrim(one)
    if fn == "str_rstrip":
        return F.rtrim(one)
    if fn == "strcasecmp":
        # C-contract: 0 when case-insensitively equal, sign of the
        # difference otherwise (magnitude differs from
        # g_ascii_strncasecmp; only the sign/zero is meaningful)
        la, lb = F.lower(one.cast("string")), F.lower(a[1].cast("string"))
        return (
            F.when(la == lb, F.lit(0)).when(la < lb, F.lit(-1)).otherwise(F.lit(1))
        )
    if fn == "glob_match":
        from axosyslog_spark.operators.filters import glob_match

        return glob_match(one, _need_raw(fn, raws, 1))
    if fn == "utf8_validate":
        return F.is_valid_utf8(one)
    if fn == "utf8_sanitize":
        return F.make_valid_utf8(one)
    # --- time family (func-strptime.c / filterx-globals.c strftime) ---
    if fn == "strptime":
        return parse_date(one, (strftime_to_spark(_need_raw(fn, raws, 1)),))
    if fn == "strftime":
        # reference arg order: strftime(format, datetime)
        return F.date_format(a[1], strftime_to_spark(_need_raw(fn, raws, 0)))
    # try_cast: a malformed datetime string is NULL, not a job abort
    # under Spark 4's ANSI casts
    if fn == "datetime":
        return one.try_cast("timestamp")
    if fn in ("isodate", "format_isodate"):
        return F.date_format(one.try_cast("timestamp"), "yyyy-MM-dd'T'HH:mm:ssXXX")
    # --- dict/json helpers ---
    if fn == "format_json":
        return F.to_json(one)
    if fn == "keys":
        return F.map_keys(one)
    if fn == "unset_empties":
        # recursive= accepted, no-op (flat map<string,string> values)
        return _unset_empties(
            one,
            targets=kwargs.get("targets"),
            replacement=kwargs.get("replacement"),
            ignorecase=kwraws.get("ignorecase") == "true",
        )
    if fn == "regexp_subst":
        return F.regexp_replace(one, a[1], a[2])
    if fn == "regexp_search":
        # expr-regexp-search.c: the first capture group, as a list
        return F.array(F.regexp_extract(one, _need_raw(fn, raws, 1), 1))
    if fn == "istype":
        return _istype(shapes[0] if shapes else None, _need_raw(fn, raws, 1))
    if fn == "repr":
        return one.cast("string")
    # --- typecast additions (filterx-globals.c:119-133) ---
    if fn == "bytes":
        return one.cast("binary")
    if fn in ("uuid", "uuid4"):
        # inherently nondeterministic, like the reference
        return F.expr("uuid()")
    if fn == "ip":
        # typecast ip: the value when it parses as an address, null
        # otherwise (the batch analog of the cast raising an error)
        from axosyslog_spark.operators.filters import ip_to_long

        v4 = ip_to_long(one).isNotNull()
        v6 = one.rlike(r"^[0-9A-Fa-f:]*:[0-9A-Fa-f:]*(:\d+\.\d+\.\d+\.\d+)?$")
        return F.when(v4 | v6, one)
    if fn == "subnet":
        from axosyslog_spark.operators.filters import ip_to_long

        addr = F.element_at(F.split(one, "/", 2), 1)
        plen = F.try_element_at(F.split(one, "/", 2), F.lit(2)).try_cast("int")
        valid = ip_to_long(addr).isNotNull() & plen.between(0, 32)
        return F.when(valid, one)
    if fn == "dict_to_pairs":
        # dict -> [{key:..., value:...}] (filterx-func-dict-to-pairs.c)
        return F.transform(
            F.map_entries(one),
            lambda e: F.struct(e["key"].alias("key"), e["value"].alias("value")),
        )
    if fn == "flatten":
        # our open-schema dict is map<string,string> (already flat); a
        # JSON-string arg flattens through the dotted-key flattener
        return flatten_json_column(one)
    # --- timezone family (lib/filterx/func-*timezone*.c; same
    #     semantics as the rewrite-step operators in rewrite.py) ---
    if fn == "fix_timezone":
        return F.to_utc_timestamp(one.try_cast("timestamp"), _need_raw(fn, raws, 1))
    if fn == "set_timezone":
        return F.from_utc_timestamp(one.try_cast("timestamp"), _need_raw(fn, raws, 1))
    # --- module-provided event-format builtins ---
    # (modules/cef/filterx-func-parse-cef.c / -parse-leef.c /
    #  -format-cef.c / -format-leef.c)
    if fn in ("parse_cef", "parse_leef", "format_cef", "format_leef"):
        from axosyslog_spark.operators import cef

        return getattr(cef, f"{fn}_fx")(one)
    # modules/xml: parse_xml / parse_windows_eventlog_xml / format_xml
    if fn in ("parse_xml", "parse_windows_eventlog_xml"):
        from axosyslog_spark.operators.xmlparse import xml_flatten_col

        win = fn == "parse_windows_eventlog_xml"
        return xml_flatten_col(
            one, raws[1] if len(raws) > 1 and raws[1] else ("winlog" if win else "xml"),
            strip_whitespaces=win, named_data=win,
        )
    if fn == "format_xml":
        from axosyslog_spark.operators.xmlparse import format_xml_fx

        return format_xml_fx(one)
    if fn == "format_windows_eventlog_xml":
        from axosyslog_spark.operators.xmlparse import (
            format_windows_eventlog_xml_fx,
        )

        return format_windows_eventlog_xml_fx(one)
    # modules/csvparser filterx-func-parse-csv.c: with a columns list a
    # dict of the present columns, without one the list of every field;
    # both quote-aware, through csv-parser's own field extraction
    if fn == "parse_csv":
        cols = raws[1] if len(raws) > 1 and raws[1] else None
        delim = raws[2] if len(raws) > 2 and raws[2] else ","
        if cols is None:
            return csv_tokens(one, CsvSpec((), delimiter=delim))
        names = [c.strip() for c in cols.split(",")]
        spec = CsvSpec(tuple(map(CsvColumn, names)), delimiter=delim, drop_invalid=False)
        vals, _ = csv_columns(one, spec)
        m = F.map_from_arrays(F.array(*map(F.lit, names)), F.array(*vals))
        return F.map_filter(m, lambda _k, v: v.isNotNull())
    # modules/csvparser filterx-func-format-csv.c: list or dict values
    # joined with the delimiter
    if fn == "format_csv":
        delim = raws[1] if len(raws) > 1 and raws[1] else ","
        return F.array_join(one, delim)
    if fn == "format_csv_values":
        delim = raws[1] if len(raws) > 1 and raws[1] else ","
        return F.array_join(F.map_values(one), delim)
    # lib/filterx/func-sdata.c over our .SDATA.* map column
    if fn == "get_sdata":
        return F.col("sdata")
    if fn == "has_sdata":
        sd = F.col("sdata")
        return sd.isNotNull() & (F.size(sd) > 0)
    # lib/filterx/func-cache-json-file.c: plan-time (config-time in the
    # reference) load of a small JSON dict, broadcast as a literal map
    if fn == "cache_json_file":
        import json as _json

        with open(_need_raw(fn, raws, 0)) as fh:
            text = fh.read()
        if not isinstance(_json.loads(text), dict):
            raise FilterXSyntaxError("cache_json_file: top level must be a dict")
        # json-parser's flatten rules, run once here; the result is inlined
        flat = SparkSession.active().range(1).select(flatten_json_column(F.lit(text)))
        pairs = [(F.lit(k), F.lit(v).cast("string")) for k, v in flat.first()[0].items()]
        return F.create_map(*[x for kv in pairs for x in kv])
    # --- digest (lib/filterx/func-digest.c): digest(input, alg="sha256") ---
    if fn == "digest":
        alg = (
            kwraws.get("alg")
            or (raws[1] if len(raws) > 1 and raws[1] else None)
            or "sha256"
        )
        b = one.cast("binary")
        algos = {
            "md5": F.md5(b), "sha1": F.sha1(b), "sha224": F.sha2(b, 224),
            "sha256": F.sha2(b, 256), "sha384": F.sha2(b, 384),
            "sha512": F.sha2(b, 512),
        }
        if alg not in algos:
            raise FilterXSyntaxError(f"digest: unsupported algorithm {alg!r}")
        return algos[alg]
    if fn == "uuid7":
        # func-uuid.c uuid7: time-ordered v7 — 48-bit unix-millis
        # prefix, version nibble 7, random tail (inherently
        # nondeterministic like the reference; the tail reuses uuid()'s
        # CSPRNG bits, the variant bits come with them)
        ms = F.lpad(
            F.lower(F.hex(F.unix_millis(F.current_timestamp()))), 12, "0"
        )
        tail = F.expr("uuid()")
        return F.concat(
            F.substring(ms, 1, 8), F.lit("-"), F.substring(ms, 9, 4),
            F.lit("-7"), F.substring(tail, 16, 3),
            F.substring(tail, 19, 24),
        )
    if fn == "is_sdata_from_enterprise":
        # func-sdata.c: any SDATA SD-ID carries the given
        # enterprise-number suffix (name@EID or name@EID.sub)
        eid = _need_raw(fn, raws, 0)
        sd = F.col("sdata")
        # key forms: "name@EID" (SD-ID alone) or "name@EID.param"
        pat = "@" + re.escape(eid) + "(\\.|$)"
        return sd.isNotNull() & F.exists(
            F.map_keys(sd), lambda k: k.rlike(pat)
        )
    if fn == "get_timestamp":
        # func-timestamp.c get_timestamp(msg, stamp=["stamp","recvd"]):
        # our frames carry the event stamp in ts / the receive stamp in
        # recvd_ts when present
        which = kwraws.get("stamp") or "stamp"
        if which not in ("stamp", "recvd"):
            raise FilterXSyntaxError(
                'get_timestamp: stamp must be "stamp" or "recvd"'
            )
        name = "ts" if which == "stamp" else "recvd_ts"
        return F.col(name).cast("timestamp")
    if fn == "guess_timezone":
        # func-timestamp.c guess_timezone(datetime): the stamp
        # reinterpreted in rewrite.guessed_zone; the receive stamp is
        # the frame's recvd_ts (second arg overrides)
        from axosyslog_spark.operators.rewrite import guessed_zone

        recvd = a[1] if len(a) > 1 else F.col("recvd_ts")
        stamp = one.try_cast("timestamp")
        return F.to_utc_timestamp(
            stamp, guessed_zone(stamp, recvd.try_cast("timestamp"))
        )
    # --- type constructors (filterx-globals.c json/json_array/dict/
    #     list/object): json() parses an object to our open-schema map,
    #     json_array() to a list; dict()/list()/object() with an arg
    #     pass the value through (the reference's dup-to-type), empty
    #     ctors make the empty container ---
    if fn in ("json", "object", "json_array", "dict", "list"):
        if not a:
            return _empty_list() if fn in ("list", "json_array") else _empty_dict()
        if fn == "json_array":
            return F.from_json(one.cast("string"), "array<string>")
        if fn in ("json", "object"):
            return F.from_json(one.cast("string"), "map<string,string>")
        return one
    # lib/filterx/object-metrics-labels.c: a labels object is a
    # (name, value) list; our map<string,string> representation is
    # key-unique BY CONSTRUCTION (every build site folds duplicates
    # through entries_to_map's last-value-wins — the same rule
    # _dedup's hash-replace applies), so metrics_labels() is the
    # map itself and dedup_metrics_labels() is a true-returning
    # no-op like the reference's already-deduped fast path.
    if fn == "metrics_labels":
        return one if a else _empty_dict()
    if fn == "dedup_metrics_labels":
        if not a:
            raise FilterXSyntaxError(
                "Usage: dedup_metrics_labels(my_metrics_labels)"
            )
        return F.lit(True)
    raise FilterXSyntaxError(f"unknown filterx function {fn!r}()")


# ---------------------------------------------------------------------------
# public API
# ---------------------------------------------------------------------------


@dataclass
class FilterXBlock:
    updates: dict[str, Column]
    keep: Column | None
    metrics: tuple = ()
    # set by apply() when the block carries update_metric() counters;
    # read it after an action on the returned frame (Observation.get)
    observation: object | None = None

    def apply(self, df: DataFrame) -> DataFrame:
        """Apply the block: observe + one filter + one withColumns.

        Both ``keep`` and ``updates`` are expressions over the ORIGINAL
        columns (the symbolic executor already folded
        assignment-then-read chains into the expressions themselves), so
        the filter MUST run first: filtering doesn't change values, while
        withColumns would make a later filter resolve against post-update
        values (e.g. ``if ($s == "error") { drop; }; $s = "done";`` must
        drop on the ORIGINAL $s).

        update_metric() counters attach BEFORE the filter (each
        increment is masked by its statement-site liveness, which
        includes drops that happened earlier in the block — reference
        evaluation order), riding whatever action later consumes the
        frame, like run_pipeline_observed's sink counters."""
        if self.metrics:
            from pyspark.sql import Observation

            sums: dict[str, Column] = {}
            for name, inc in self.metrics:
                sums[name] = (sums[name] + inc) if name in sums else inc
            self.observation = Observation("filterx_metrics")
            df = df.observe(
                self.observation,
                *[F.sum(c).alias(n) for n, c in sums.items()],
            )
        out = df.filter(self.keep) if self.keep is not None else df
        return out.withColumns(self.updates) if self.updates else out


def compile_filterx(
    block: str,
    known_fields: list[str] | None = None,
    string_fields: set[str] | None = None,
) -> FilterXBlock:
    """Compile a filterx {} block body to a reusable FilterXBlock.

    ``known_fields``: pass df.columns so reads of never-set fields
    resolve to NULL instead of failing analysis (open-schema NV
    semantics); omit to let Spark resolve every $field strictly.
    ``string_fields``: names whose `+=` means concatenation (the
    reference dispatches on runtime object type; plan-time we dispatch
    on declared column type).
    """
    comp = _Compiler(
        _lex(block),
        set(known_fields) if known_fields is not None else None,
        string_fields,
    )
    st = comp.block(_State())
    if comp.peek() is not None:
        raise FilterXSyntaxError(f"trailing input at {comp.peek().text!r}")
    return FilterXBlock(
        updates=st.updates, keep=st.keep, metrics=tuple(st.metrics)
    )


def filterx(df: DataFrame, block: str) -> DataFrame:
    """One-shot: compile against df's schema and apply."""
    from pyspark.sql.types import StringType

    strs = {f.name for f in df.schema.fields if isinstance(f.dataType, StringType)}
    return compile_filterx(
        block, known_fields=df.columns, string_fields=strs
    ).apply(df)
