"""Zone-map pushdown for the SQL surface: physical-plan constraint
extraction + manifest-planned view rebinding.

The round-9 zone-map layer (operators/zonemaps.py) prunes files when a
caller invokes ``scan_pruned()`` explicitly. This module makes the
ENGINE do it: ``Engine.sql``/``Engine.df`` detect range and IN-list
predicates on a zone-mapped table's stats columns in the query's own
PHYSICAL plan and re-plan the scan from the manifest — the user writes
plain SQL (the reference's whole UX, ``app.py:51``) and gets
Iceberg/Delta-style stats skipping on plain parquet for free.

How constraints are found — asked of Catalyst, not parsed from SQL:
``spark.sql(query)`` is planned (analysis + optimization only, no
execution) and every ``FileSourceScanExec`` leaf is inspected via the
JVM bridge. A scan's ``dataFilters`` are the optimizer's OWN conjuncts
(post constant-folding, post pushdown-splitting), so everything the
rewriter produces from BETWEEN / CTE inlining arrives here already
normalized. Conjuncts of the shape ``<attr> <cmp> <literal>`` over a
manifest stats column become closed-interval bounds (strict bounds
widen to closed — pruning needs only a SUPERSET of the matching files
to stay sound, because the query re-applies its full predicate when it
executes); ``<attr> IN (<literals>)`` becomes a VALUE SET — each file
survives iff some value can sit inside its [min, max], strictly
tighter than the IN-list's min/max envelope when the list is sparse.

Soundness rules (pruning can cost reads, never correctness):
- per SCAN, bounds on different columns INTERSECT (all must hold);
- per TABLE, the surviving file sets of different scans UNION (a
  self-join's two scans each need their own files);
- a scan of the table with NO usable bound disables pruning for the
  whole table (it needs every file);
- unrecognized expression shapes / uncomparable literal types are
  simply ignored (no bound extracted -> no pruning from them).

Timestamps: Catalyst session-zoned ``timestamp`` literals carry epoch
micros, and version-3 manifests store min/max for session-zoned
columns as epoch micros too (operators/zonemaps.py) — so the literal
is kept RAW and the comparison happens in epoch space end to end,
with no timezone rendering on either side (PySpark's collect renders
timestamps in the driver-OS zone, not the session zone, so any
rendered comparison would be unsound on an off-UTC host). Only the
cast-shaped constraints that target a NON-epoch domain (an NTZ or
date column compared through a cast to timestamp) convert the literal
into that domain's wall clock, via the session zone — the zone
Catalyst itself used to build the cast. ``timestamp_ntz`` literals
are wall-clock and decode without conversion.

The reference has no planner at all — every query re-lists and
re-reads full objects (``quack.py:145``); this is the read-planning
half of a table format, driven from the engine's own plan.
"""

from __future__ import annotations

import datetime as _dt
import struct as _struct
from typing import Any

from pyspark.sql import DataFrame

_EPOCH_DATE = _dt.date(1970, 1, 1)
_EPOCH_TS = _dt.datetime(1970, 1, 1)
_EPOCH_UTC = _dt.datetime(1970, 1, 1, tzinfo=_dt.timezone.utc)

# comparison node -> (bound-kind when attr is on the LEFT)
_CMP_LEFT = {
    "GreaterThanOrEqual": "lo",
    "GreaterThan": "lo",  # strict widens to closed: superset, sound
    "LessThanOrEqual": "hi",
    "LessThan": "hi",
    "EqualTo": "eq",
    # null-safe equality with a non-null literal == plain equality
    # (NULL literals never reach here: _literal_py reports unusable)
    "EqualNullSafe": "eq",
}
_FLIP = {"lo": "hi", "hi": "lo", "eq": "eq"}

# LIKE 'abc%' arrives as StartsWith(attr, 'abc'): every matching string
# sits in [prefix, <upper>) lexicographically — Spark compares strings
# by UTF-8 bytes and Python by code points, the same total order for
# valid Unicode. The EXCLUSIVE upper bound comes from incrementing the
# prefix's last non-maximal code point (``"abc"`` -> ``"abd"``): every
# prefix-match compares below it at the incremented position no matter
# what follows. (``prefix + chr(0x10FFFF)`` is NOT a supremum —
# ``prefix + "\U0010FFFF" + "x"`` matches the prefix yet sorts above
# it, so using it as a closed bound could mis-prune.)


def _prefix_upper(prefix: str) -> str | None:
    """Smallest-effort EXCLUSIVE upper bound of the prefix-match set,
    or None when every code point is already U+10FFFF (no finite
    bound exists — the constraint stays lower-bound-only, sound)."""
    for i in range(len(prefix) - 1, -1, -1):
        cp = ord(prefix[i])
        if cp < 0x10FFFF:
            return prefix[:i] + chr(cp + 1)
    return None


def _bare(p: str) -> str:
    return "/" + p.split("://")[-1].removeprefix("file:").lstrip("/")


def _internal_py(v: Any, type_name: str) -> tuple[Any, bool]:
    """Python value of a Catalyst-INTERNAL-form value, (value, usable).
    Dates arrive as days since epoch; strings as UTF8String JVM
    objects. Session-zoned timestamp micros stay RAW — version-3
    manifests hold epoch micros for those columns, so the comparison
    is int-vs-int with no rendering on either side. NTZ micros are
    wall-clock and decode to the naive datetime manifests store.
    Types we can't compare portably against manifest values (decimal,
    binary, interval...) report unusable."""
    if v is None:
        return None, False
    if type_name == "date":
        return _EPOCH_DATE + _dt.timedelta(days=int(v)), True
    if type_name == "timestamp_ntz":
        # wall-clock micros: no zone applies
        return _EPOCH_TS + _dt.timedelta(microseconds=int(v)), True
    if type_name == "timestamp":
        return int(v), True  # epoch micros, compared in epoch space
    if type_name == "string":
        return v if isinstance(v, str) else v.toString(), True
    if type_name in ("integer", "long", "short", "byte", "double", "float"):
        return v, True
    if type_name.startswith("decimal"):
        # v3 manifests stat decimal(p<=18) columns in UNSCALED-int
        # space; a binary comparison against a BARE attribute is
        # same-typed post-analysis, so the literal's scale IS the
        # column's and toUnscaledLong lands in exactly that space.
        # WIDE decimals (p > 18) stat natively — the literal decodes
        # to an exact python Decimal via BigDecimal's plain string
        # (r14), compared Decimal-vs-Decimal driver-side.
        from quack_reduce_spark.operators.zonemaps import (
            _decimal_ps,
            _unscaled_decimal,
        )

        if _unscaled_decimal(type_name) is not None:
            try:
                return int(v.toUnscaledLong()), True
            except Exception:
                return None, False
        if _decimal_ps(type_name) is not None:
            try:
                import decimal as _pydec

                d = v.toJavaBigDecimal()
                if isinstance(d, _pydec.Decimal):
                    return d, True  # py4j auto-converts BigDecimal
                return _pydec.Decimal(d.toPlainString()), True
            except Exception:
                return None, False
        return None, False
    return None, False


def _literal_py(lit: Any) -> tuple[Any, bool]:
    """Python value of a Catalyst Literal, (value, usable) — the
    Literal holds its value in internal form (see _internal_py)."""
    return _internal_py(lit.value(), lit.dataType().typeName())


def _wall(micros: int, session_tz: str) -> _dt.datetime | None:
    """Session-zone naive wall clock of epoch micros — the inverse of
    the conversion Catalyst's session-zoned casts apply — or None when
    the zone can't resolve (the constraint is then unusable: sound)."""
    try:
        from zoneinfo import ZoneInfo

        zone = ZoneInfo(session_tz)
    except Exception:
        return None
    aware = _EPOCH_UTC + _dt.timedelta(microseconds=int(micros))
    return aware.astimezone(zone).replace(tzinfo=None)


def _ident(v: Any, session_tz: str) -> Any:
    return v


def _ts_to_ntz(v: Any, session_tz: str) -> Any:
    # NTZ column compared THROUGH a cast to session-zoned timestamp:
    # the literal's micros convert to the session zone's wall clock —
    # exactly the domain the cast lifted the column into. Around a DST
    # fold the rendering picks one of the two instants, which can only
    # WIDEN a bound relative to the monotone cast (see tests), so
    # pruning stays a superset.
    return _wall(v, session_tz) if isinstance(v, int) else v


def _to_date(v: Any, session_tz: str) -> Any:
    # date column compared THROUGH a cast to timestamp: flooring the
    # literal to its date keeps a SUPERSET of the matching files for
    # every bound kind (lo floors = widens, hi floors = exact, eq/IN
    # floors = possibly keeps files an impossible non-midnight value
    # never matches — extra reads, never missing rows). Session-zoned
    # micros first lift to the session wall clock (the zone the cast
    # used); NTZ datetimes floor directly.
    if isinstance(v, int):
        v = _wall(v, session_tz)
        if v is None:
            return None
    return v.date() if isinstance(v, _dt.datetime) else v


# (source column type, cast target type) -> literal converter
# ``(value, session_tz) -> value | None`` (None = unusable), for the
# cast shapes Catalyst leaves around attributes in In-lists (binary
# comparisons get unwrapped by UnwrapCastInBinaryComparison; In does
# not). Only pairs where comparing the converted literal against the
# SOURCE-typed manifest stats is sound appear here.
_INT_WIDEN = {
    ("byte", "short"), ("byte", "integer"), ("byte", "long"),
    ("short", "integer"), ("short", "long"), ("integer", "long"),
    ("float", "double"),
}
_SAFE_CASTS: dict[tuple[str, str], Any] = {
    ("timestamp_ntz", "timestamp"): _ts_to_ntz,
    ("date", "timestamp"): _to_date,
    ("date", "timestamp_ntz"): _to_date,
    **{pair: _ident for pair in _INT_WIDEN},
}


def _unwrap_attr(e: Any) -> tuple[str | None, Any]:
    """(column name, literal-converter) when ``e`` is an attribute or
    a SAFE cast of one, else (None, None)."""
    n = e.getClass().getSimpleName()
    if n == "AttributeReference":
        return e.name(), _ident
    if n == "Cast":
        child = e.child()
        if child.getClass().getSimpleName() != "AttributeReference":
            return None, None
        conv = _SAFE_CASTS.get(
            (child.dataType().typeName(), e.dataType().typeName())
        )
        if conv is None:
            return None, None
        return child.name(), conv
    return None, None


def _side(e: Any) -> tuple[str | None, Any]:
    n = e.getClass().getSimpleName()
    if n == "Literal":
        return "lit", e
    name, conv = _unwrap_attr(e)
    if name is not None:
        return "attr", (name, conv)
    return None, None


def _parse_internal_str(s: str, type_name: str) -> tuple[Any, bool]:
    """Python value of ONE element of an InSet's ``mkString`` dump —
    the string rendering of a Catalyst internal value (Long/Int print
    as digits, UTF8String as the raw string, Double/Float in Scala's
    notation, which Python's float() parses including E-notation /
    NaN / Infinity). FLOAT values are narrowed back to float32 and
    re-widened: Scala renders a Float by its shortest repr ("1.1"),
    and Python's float() of that is the nearest DOUBLE — NOT the
    widened float32 value (1.100000023841858) the manifest min/max
    hold, so the raw parse could prune a file whose min==max equals
    the true value. The round trip through struct reproduces the JVM
    float->double widening exactly."""
    try:
        if type_name in ("integer", "long", "short", "byte"):
            return int(s), True
        if type_name == "double":
            return float(s), True
        if type_name == "float":
            return _struct.unpack("f", _struct.pack("f", float(s)))[0], True
        if type_name == "string":
            return s, True
        if type_name == "date":
            return _EPOCH_DATE + _dt.timedelta(days=int(s)), True
        if type_name == "timestamp":
            return int(s), True  # epoch micros
        if type_name == "timestamp_ntz":
            return _EPOCH_TS + _dt.timedelta(microseconds=int(s)), True
        if type_name.startswith("decimal"):
            # internal Decimal renders via BigDecimal.toString
            # ("123.45", possibly E-notation): parse exactly and
            # rescale into the column's unscaled-int stats space
            from quack_reduce_spark.operators.zonemaps import (
                _decimal_ps,
                _unscaled_decimal,
            )

            import decimal as _pydec

            if _unscaled_decimal(type_name) is None:
                # wide decimal (p > 18): native-Decimal space (r14)
                if _decimal_ps(type_name) is None:
                    return None, False
                return _pydec.Decimal(s), True
            d = _pydec.Decimal(s).scaleb(_decimal_ps(type_name)[1])
            if d != d.to_integral_value():
                return None, False
            return int(d), True
    except (ValueError, OverflowError, ArithmeticError):
        return None, False
    return None, False


# separator for the one-call InSet dump: a control char that cannot
# appear in numeric/temporal renderings; a STRING value containing it
# breaks the element count and the whole conjunct is dropped (sound)
_INSET_SEP = "\x01"


def _conjunct_bound(e: Any, session_tz: str) -> tuple[str, str, Any] | None:
    """(column, 'lo'|'hi'|'eq'|'in', value) from one dataFilters
    conjunct, or None when the shape isn't ``attr cmp literal`` /
    ``attr IN (literals)``. An In whose list holds any non-literal or
    unusable value extracts nothing (sound)."""
    name = e.getClass().getSimpleName()
    if name == "In":
        lk, got = _side(e.value())
        if lk != "attr":
            return None
        colname, conv = got
        vals = []
        lst = e.list()
        for j in range(lst.size()):
            kind, lit = _side(lst.apply(j))
            if kind != "lit":
                return None
            v, ok = _literal_py(lit)
            if not ok:
                return None
            out = conv(v, session_tz)
            if out is None:
                return None
            vals.append(out)
        if not vals:
            return None
        return colname, "in", frozenset(vals)
    if name == "InSet":
        # IN-lists past spark.sql.optimizer.inSetConversionThreshold
        # (default 10) compile to InSet with values in Catalyst
        # INTERNAL form (epoch micros/days, UTF8String) — the big
        # dashboard IN. The whole value set is pulled in ONE py4j call
        # (``mkString`` on the JVM side) instead of one round trip per
        # element, which is what lets _MAX_INSET sit in the tens of
        # thousands; per-file matching binary-searches the sorted
        # values, so plan cost is O(V log V + files·log V).
        lk, got = _side(e.child())
        if lk != "attr":
            return None
        colname, conv = got
        hs = e.hset()
        n = int(hs.size())
        if n == 0 or n > _MAX_INSET:
            return None
        tname = e.child().dataType().typeName()
        joined = hs.mkString(_INSET_SEP)
        parts = joined.split(_INSET_SEP)
        if len(parts) != n:
            return None  # a string value held the separator: bail out
        vals = []
        for s in parts:
            v, ok = _parse_internal_str(s, tname)
            if not ok:
                return None
            out = conv(v, session_tz)
            if out is None:
                return None
            vals.append(out)
        return colname, "in", frozenset(vals)
    if name in ("IsNull", "IsNotNull"):
        lk, got = _side(e.child())
        if lk != "attr":
            return None
        colname, _conv = got  # safe casts preserve nullness (ANSI:
        # cast failures raise rather than null out), so the child
        # attribute's nullness is the cast's nullness
        return colname, ("isnull" if name == "IsNull" else "isnotnull"), None
    if name == "StartsWith":
        lk, got = _side(e.left())
        rk, lit = _side(e.right())
        if lk != "attr" or rk != "lit":
            return None
        colname, conv = got
        if conv is not _ident:  # prefix semantics don't survive casts
            return None
        v, ok = _literal_py(lit)
        if not ok or not isinstance(v, str) or not v:
            return None
        return colname, "pref", v
    kind = _CMP_LEFT.get(name)
    if kind is None:
        return None
    lk, lv = _side(e.left())
    rk, rv = _side(e.right())
    if lk == "attr" and rk == "lit":
        (col, conv), lit, flip = lv, rv, False
    elif lk == "lit" and rk == "attr":
        (col, conv), lit, flip = rv, lv, True
    else:
        return None
    val, ok = _literal_py(lit)
    if not ok:
        return None
    out = conv(val, session_tz)
    if out is None:
        return None  # cast conversion unresolvable: no bound (sound)
    return col, (_FLIP[kind] if flip else kind), out


def _merge_bound(bounds: dict, col: str, kind: str, val: Any) -> None:
    """Fold one conjunct into the per-scan constraint map
    ``{col: [lo, hi, vals, nullness]}`` — conjuncts on the same column
    INTERSECT: ranges tighten lo/hi, IN-lists intersect value sets,
    a range over an existing value set filters it, and IS [NOT] NULL
    sets the nullness flag (a conflicting pair leaves 'null' — the
    predicate is then unsatisfiable, and ANY file subset is a sound
    superset of its empty match set)."""
    lo, hi, vals, nullness = bounds.get(col, (None, None, None, None))
    if kind == "isnull":
        nullness = "null"
    elif kind == "isnotnull":
        nullness = nullness or "notnull"
    elif kind == "in":
        vals = val if vals is None else (vals & val)
    elif kind == "pref":
        # prefix p -> superset range [p, increment(p)]; a prefix with
        # no finite supremum (all code points maximal) stays
        # lower-bound-only
        if lo is None or _gt(val, lo):
            lo = val
        top = _prefix_upper(val)
        if top is not None and (hi is None or _lt(top, hi)):
            hi = top
    else:
        if kind in ("lo", "eq") and (lo is None or _gt(val, lo)):
            lo = val
        if kind in ("hi", "eq") and (hi is None or _lt(val, hi)):
            hi = val
    bounds[col] = (lo, hi, vals, nullness)


def _gt(a, b) -> bool:
    try:
        return a > b
    except TypeError:
        return False


def _lt(a, b) -> bool:
    try:
        return a < b
    except TypeError:
        return False


def _finalize(bounds: dict) -> dict[str, tuple]:
    """Apply range bounds to value sets: a constraint with both an
    IN-list and a range keeps only in-range values (their conjunction).
    An IS NULL constraint drops any value bounds (only NULL rows can
    match — value bounds on the same column make the predicate
    unsatisfiable, and pruning by null-count alone stays a sound
    superset). Columns whose constraints are vacuous drop out."""
    out: dict[str, tuple] = {}
    for col, (lo, hi, vals, nullness) in bounds.items():
        if nullness == "null":
            out[col] = (None, None, None, "null")
        elif vals is not None:
            kept = frozenset(
                v
                for v in vals
                if not (lo is not None and _lt(v, lo))
                and not (hi is not None and _gt(v, hi))
            )
            out[col] = (None, None, kept, nullness)
        elif lo is not None or hi is not None or nullness is not None:
            out[col] = (lo, hi, None, nullness)
    return out


# DNF expansion cap: a conjunction of ORs multiplies alternatives; a
# predicate that would expand past this many collapses to its
# per-column ENVELOPE across arms (min of lows, max of highs) — wider
# than the exact DNF, still sound, never zero pruning.
_MAX_ALTS = 16
# InSet decode cap: the whole value set arrives in ONE py4j call
# (mkString) and per-file matching binary-searches a sorted tuple, so
# the cap guards only the one-time O(V log V) sort + transfer — a
# 1,000-value dashboard IN is well inside it.
_MAX_INSET = 32768


def _envelope_of_alts(alts: list[list[tuple]]) -> list[tuple]:
    """Per-column range ENVELOPE of a DNF — the sound fallback when
    exact expansion would exceed ``_MAX_ALTS``: for each column
    bounded in EVERY arm, [min of arm lows, max of arm highs]. A
    column unconstrained (or NULL-matching, or unbounded on a side)
    in any arm drops out — the union is unbounded there. Arms whose
    constraints are unsatisfiable (empty intersected value set)
    contribute nothing to the union and are skipped. Returns atomic
    (col, 'lo'/'hi', val) triples; possibly empty (no pruning from
    this conjunct — still sound)."""
    arm_ranges: list[dict[str, tuple]] = []
    for triples in alts:
        bounds: dict[str, tuple] = {}
        for col, kind, val in triples:
            _merge_bound(bounds, col, kind, val)
        fin = _finalize(bounds)
        if any(
            c[2] is not None and len(c[2]) == 0 and c[3] != "null"
            for c in fin.values()
        ):
            continue  # arm matches nothing: adds nothing to the union
        ranges: dict[str, tuple] = {}
        for col, (lo, hi, vals, nullness) in fin.items():
            if nullness == "null":
                continue  # NULL-matching arm: no value range exists
            if vals:
                try:
                    lo, hi = min(vals), max(vals)
                except TypeError:
                    continue
            if lo is None and hi is None:
                continue
            ranges[col] = (lo, hi)
        arm_ranges.append(ranges)
    if not arm_ranges:
        return []  # every arm unsatisfiable: nothing to bound (sound)
    common = set(arm_ranges[0]).intersection(*(set(r) for r in arm_ranges[1:]))
    out: list[tuple] = []
    for col in common:
        los = [r[col][0] for r in arm_ranges]
        his = [r[col][1] for r in arm_ranges]
        try:
            if all(l is not None for l in los):
                out.append((col, "lo", min(los)))
            if all(h is not None for h in his):
                out.append((col, "hi", max(his)))
        except TypeError:
            continue  # incomparable across arms: drop the column
    return out


def _dnf_triples(e: Any, session_tz: str) -> list[list[tuple]] | None:
    """Disjunctive normal form of one dataFilters conjunct as a list
    of alternatives, each a list of (col, kind, val) atomic bounds —
    ``(a AND b) OR c`` becomes ``[[a, b], [c]]``. None means the
    expression (or a disjunct of it) is unextractable: the caller must
    treat the WHOLE conjunct as unusable, because dropping one OR arm
    would narrow the match set (unsound), unlike dropping a whole
    AND conjunct (which only widens). Expansion past ``_MAX_ALTS``
    degrades to the per-column envelope across arms instead of giving
    up (a single widened alternative)."""
    name = e.getClass().getSimpleName()
    if name == "Or":
        left = _dnf_triples(e.left(), session_tz)
        right = _dnf_triples(e.right(), session_tz)
        if left is None or right is None:
            return None
        if len(left) + len(right) > _MAX_ALTS:
            return [_envelope_of_alts(left + right)]
        return left + right
    if name == "And":
        left = _dnf_triples(e.left(), session_tz)
        right = _dnf_triples(e.right(), session_tz)
        if left is None or right is None:
            return None
        if len(left) * len(right) > _MAX_ALTS:
            # env(A) ∧ env(B) ⊇ every (a ∧ b) product arm: sound
            return [_envelope_of_alts(left) + _envelope_of_alts(right)]
        return [a + b for a in left for b in right]
    got = _conjunct_bound(e, session_tz)
    if got is None:
        return None
    return [[got]]


def scan_constraints(
    df: DataFrame, paths_by_name: dict[str, str]
) -> dict[str, list[dict]]:
    """Per registered table: one scan record PER SCAN of that table in
    ``df``'s physical plan — ``{"alts": [...], "n_files": live_count}``
    where ``alts`` is a DNF list of alternative constraint dicts
    ``{col: (lo, hi, vals, nullness)}`` (a plain conjunction yields one
    alternative; each top-level OR arm adds one; a scan's surviving
    files are the UNION over alternatives). An empty/unextractable
    predicate contributes ``alts == [{}]`` — the caller must treat an
    alternative with no usable bounds as 'needs all files'.

    ``paths_by_name``: view name -> resolved data dir; scans are
    matched to tables by file-index root path."""
    session_tz = df.sparkSession.conf.get("spark.sql.session.timeZone")
    name_by_root = {_bare(p): n for n, p in paths_by_name.items()}
    out: dict[str, list[dict]] = {}
    plan = df._jdf.queryExecution().sparkPlan()  # plans, never executes
    leaves = plan.collectLeaves()
    for i in range(leaves.size()):
        leaf = leaves.apply(i)
        if leaf.getClass().getSimpleName() != "FileSourceScanExec":
            continue
        roots = leaf.relation().location().rootPaths()
        names = {
            name_by_root.get(_bare(roots.apply(j).toString()))
            for j in range(roots.size())
        }
        names.discard(None)
        if len(names) != 1:
            continue  # not one of ours / mixed-root scan: leave alone
        name = names.pop()
        # each top-level conjunct is a DNF of alternatives; the scan's
        # alternatives are their cross product (bounded), each folded
        # into one finalized constraint dict
        alt_triples: list[list[tuple]] = [[]]
        filters = leaf.dataFilters()
        for j in range(filters.size()):
            dnf = _dnf_triples(filters.apply(j), session_tz)
            if dnf is None:
                continue  # unusable conjunct: ignore it (widens, sound)
            if len(dnf) * len(alt_triples) > _MAX_ALTS:
                # collapse this conjunct to its cross-arm envelope
                # instead of dropping it — one widened alternative
                dnf = [_envelope_of_alts(dnf)]
            alt_triples = [a + d for a in alt_triples for d in dnf]
        alts = []
        for triples in alt_triples:
            bounds: dict[str, tuple] = {}
            for col, kind, val in triples:
                _merge_bound(bounds, col, kind, val)
            alts.append(_finalize(bounds))
        # the scan's LIVE file count, read off its own file index: the
        # engine compares it against the manifest's total to refuse
        # pruning a table whose manifest went stale (files appended
        # without append_zonemap would otherwise be silently DROPPED
        # by the rebind — the one way zone maps could lose rows)
        n_live = int(len(leaf.relation().location().inputFiles()))
        out.setdefault(name, []).append({"alts": alts, "n_files": n_live})
    return out


def _iter_nodes(root: Any):
    stack = [root]
    while stack:
        node = stack.pop()
        yield node
        children = node.children()
        for i in range(children.size()):
            stack.append(children.apply(i))


def _and_constraints(a: tuple, b: tuple) -> tuple:
    """Conjunction of two (lo, hi, vals, nullness) constraints on one
    column — ranges tighten, value sets intersect, a range filters a
    value set."""
    lo, hi, vals, nullness = a
    lo2, hi2, vals2, nullness2 = b
    if nullness2 == "null":
        nullness = "null"
    elif nullness2 == "isnotnull":
        nullness = nullness or nullness2
    if vals2 is not None:
        vals2 = frozenset(
            v
            for v in vals2
            if not (lo is not None and _lt(v, lo))
            and not (hi is not None and _gt(v, hi))
        )
        vals = vals2 if vals is None else frozenset(set(vals) & set(vals2))
        return (None, None, vals, nullness)
    if lo2 is not None and (lo is None or _gt(lo2, lo)):
        lo = lo2
    if hi2 is not None and (hi is None or _lt(hi2, hi)):
        hi = hi2
    if vals is not None:
        vals = frozenset(
            v
            for v in vals
            if not (lo is not None and _lt(v, lo))
            and not (hi is not None and _gt(v, hi))
        )
        return (None, None, vals, nullness)
    return (lo, hi, None, nullness)


def plan_pruned_files(
    spark,
    data_dir: str,
    stats_cols: list[str],
    scans: list[dict],
) -> tuple[list[str], int] | None:
    """Resolve per-scan constraints into ONE surviving file list for
    the table, or None when pruning can't apply (some alternative of
    some scan is unconstrained on every stats column, the manifest is
    STALE — its file count differs from the scan's live file index,
    meaning someone appended without append_zonemap and pruning could
    drop their rows — or nothing would be skipped). Each scan is
    ``{"alts": [{col: (lo, hi, vals, nullness)}, ...], "n_files":
    live_count}``. Within an alternative, columns intersect
    (prune_files_multi); across a scan's alternatives (OR arms) AND
    across scans, survivor sets union. Returns ``(files,
    total_files)``."""
    from quack_reduce_spark.operators.zonemaps import prune_files_multi

    union: set[str] = set()
    total = None
    for scan in scans:
        for bounds in scan["alts"]:
            usable = {c: b for c, b in bounds.items() if c in stats_cols}
            if not usable:
                return None  # this alternative needs every file
            rows, total = prune_files_multi(spark, data_dir, usable)
            if scan["n_files"] != total:
                return None  # manifest stale vs the live file set: refuse
            union.update(r["file"] for r in rows)
    if total is None or len(union) >= total:
        return None
    return sorted(union), total
