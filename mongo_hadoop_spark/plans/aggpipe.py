"""MongoDB aggregation pipeline → DataFrame compiler.

The reference engine executes Mongo *query documents* server-side and
leaves aggregation to the host framework (Hive/Pig/MapReduce jobs build
the equivalent of ``$group``/``$project`` by hand — e.g. the treasury and
enron examples, SURVEY §2.5).  Users coming from MongoDB itself write
aggregation *pipelines*; this module closes that gap by compiling the
pipeline language onto DataFrame operations, so every stage rides
Catalyst (pushdown, broadcast, whole-stage codegen) instead of a
document-at-a-time interpreter.

Supported stages: $match (query syntax + $expr), $project, $addFields /
$set, $unset, $group, $unwind, $sort, $skip, $limit, $count, $lookup
(equality form, needs a ``tables`` dict), $replaceRoot, $sortByCount,
$bucket (boundary histograms), $setWindowFields (rank / documentNumber /
shift and frame-bounded sum/avg/min/max/push/count windows), $densify /
$fill (gap materialization + locf/constant fills), $facet, $graphLookup
(bounded BFS), and terminal $out / $merge document-store writes.
Supported expressions: field paths, $literal, arithmetic ($add $subtract
$multiply $divide $mod $abs $ceil $floor $round $sqrt $pow $exp $ln),
comparisons ($eq $ne $gt $gte $lt $lte $cmp), boolean ($and $or $not),
conditionals ($cond $ifNull), strings ($concat $toUpper $toLower
$strLenCP $substrCP $split $trim $ltrim $rtrim $indexOfCP $replaceAll
$replaceOne $strcasecmp $toString), objects ($objectToArray /
$arrayToObject over MAP-typed dynamic documents, $getField $setField
$mergeObjects),
sets ($setUnion $setIntersection $setDifference $setIsSubset $setEquals),
dates ($year $month $dateToParts
$dayOfMonth $hour $minute $second $dayOfWeek), arrays ($size
$arrayElemAt $concatArrays $in), conversions ($toInt $toLong $toDouble
$toDecimal $toBool $toDate), accumulators ($sum $avg $min $max $push
$addToSet $first $last $count $stdDevPop $stdDevSamp, ranked $top
$bottom $topN $bottomN, $median $percentile — discrete-exact by default,
``approx_percentile`` production mode via ``percentile_accuracy``), window
operators in $setWindowFields ($rank $denseRank $documentNumber $shift
$derivative $integral $covariancePop $covarianceSamp + frame-bounded
aggregates).

Determinism deviations (documented, deliberate):
- ``$addToSet`` emits a *sorted* array (sets are unordered in Mongo; a
  canonical order makes results reproducible across shuffles);
- ``$sortByCount`` breaks count ties by ``_id`` ascending.

Null semantics follow the server: ``{a: {$ne: v}}`` matches null/missing,
comparisons in query context are type-bracketed (null never satisfies
``$gt``), ``$eq: null`` matches null.
"""

from __future__ import annotations

import contextvars
from typing import Any

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame

# Percentile execution mode for $median/$percentile/$bucketAuto.
# ``None`` → exact discrete semantics (``percentile_disc``: deterministic,
# cross-engine bit-checkable, but the aggregation buffer holds every input
# value — one O(N)-memory final reducer, fine to ~10^8 values, not 100 TB).
# An ``int`` → the production path: ``approx_percentile`` with that
# accuracy (Greenwald-Khanna summary: mergeable partial state bounded by
# O((1/ε)·log(εN)) with ε = 1/accuracy, independent of the input size).
# GK guarantees rank error ≤ ε·N, so while ε·N < 1/2 the sketch is
# *provably rank-exact* and returns exactly ``percentile_disc``'s value
# (verified property-style in tests/test_aggpipe.py); past that it
# degrades gracefully to the same exact-vs-sketch trade the server itself
# makes ($median/$percentile are t-digest approximations in Mongo 7.0).
# Set per ``aggregate(...)`` call (``percentile_accuracy=``) or globally
# via the Spark conf ``spark.mongo_hadoop_spark.percentileAccuracy``.
_APPROX_PCTL: contextvars.ContextVar[int | None] = contextvars.ContextVar(
    "mongo_hadoop_spark_approx_pctl", default=None)

PERCENTILE_ACCURACY_CONF = "spark.mongo_hadoop_spark.percentileAccuracy"

# Per-pipeline $rand occurrence sequence: each ``aggregate(...)`` call
# resets it, and every $rand site compiled under that call draws the next
# index (0, 1, 2, ... in compile order).  Index 0 compiles to the bare
# md5-of-row fraction (bit-identical to $sampleRate's gate and to the
# pre-r10 form); index k > 0 salts the hash with ``#k`` so DISTINCT
# $rand sites in one pipeline decorrelate (the server draws an
# independent uniform per evaluation) while each site stays
# deterministic across runs and partitionings.  ``None`` (no pipeline
# in flight — a bare ``expr_to_col`` call) behaves as index 0.
_RAND_SEQ: contextvars.ContextVar[Any] = contextvars.ContextVar(
    "mongo_hadoop_spark_rand_seq", default=None)

# Column list of the CURRENT pipeline stage's input — set by the stage
# dispatcher before each stage compiles, read by the $$ROOT/$$CURRENT
# system variables (the whole document as one struct).  None = no
# pipeline in flight (bare expr_to_col calls have no document scope).
_STAGE_COLUMNS: contextvars.ContextVar[list[str] | None] = \
    contextvars.ContextVar("mongo_hadoop_spark_stage_columns", default=None)

# ---------------------------------------------------------------------------
# Aggregation expression language → Column
# ---------------------------------------------------------------------------


def expr_to_col(expr, env: dict[str, Column] | None = None) -> Column:
    """Compile an aggregation expression (the ``$project``/``$group`` value
    language) to a Column.  ``env`` binds pipeline variables: ``$$this`` /
    ``$$value`` inside $map/$filter/$reduce, or a named ``as`` binding."""
    if isinstance(expr, str) and expr.startswith("$$"):
        name, _, rest = expr[2:].partition(".")
        if env and name in env:
            col = env[name]
        elif name in ("ROOT", "CURRENT"):
            # the whole input document of the current stage as one
            # struct (r12); $$CURRENT is $$ROOT unless rebound (we do
            # not support rebinding, same as modern servers)
            cols = _STAGE_COLUMNS.get()
            if cols is None:
                raise ValueError(
                    f"$${name} needs a pipeline stage scope "
                    "(bare expression compile has no document)")
            col = F.struct(*[F.col(c).alias(c) for c in cols])
        elif name == "REMOVE":
            # columnar mapping: a missing field IS a null column in
            # this engine (documented convention), so $$REMOVE
            # compiles to null — {$cond: [c, "$$REMOVE", "$f"]} yields
            # null where the server omits the field
            if rest:
                raise ValueError("$$REMOVE takes no sub-path")
            return F.lit(None)
        else:
            raise ValueError(f"unbound pipeline variable $${name}")
        for seg in (rest.split(".") if rest else []):
            col = col.getField(seg)
        return col
    if isinstance(expr, str) and expr.startswith("$"):
        return F.col(expr[1:])
    if isinstance(expr, dict):
        if len(expr) != 1:
            # document literal with several keys → struct of compiled values
            return F.struct(*[expr_to_col(v, env).alias(k) for k, v in expr.items()])
        (op, operand), = expr.items()
        if not op.startswith("$"):
            return F.struct(expr_to_col(operand, env).alias(op))
        return _expr_op(op, operand, env)
    return F.lit(expr)



def _date_fmt(fmt: str) -> str:
    """Translate a Mongo date format string to the Spark pattern.

    Unknown ``%`` specifiers raise instead of passing through as
    literal characters (r10 — a silent pass-through rendered e.g.
    ``%V`` ISO-week requests as the literal text "%V" in every row).
    ``%%`` is the server's literal percent.
    """
    import re as _re

    out = fmt.replace("%%", "\x00")
    for m, j in (("%Y", "yyyy"), ("%m", "MM"), ("%d", "dd"), ("%H", "HH"),
                 ("%M", "mm"), ("%S", "ss"), ("%L", "SSS"), ("%j", "DDD")):
        out = out.replace(m, j)
    left = _re.search(r"%.?", out)
    if left:
        raise ValueError(
            f"unsupported date format specifier {left.group(0)!r} "
            f"(supported: %Y %m %d %H %M %S %L %j %%)")
    return out.replace("\x00", "%")


def _truthy(col: Column) -> Column:
    """Mongo boolean coercion for expression contexts: null and 0 are
    falsy, other numbers/booleans truthy (``cast("boolean")`` maps numeric
    0 → false).  Caveat vs the server: a *string* condition is truthy in
    Mongo but casts to null → false here — strings as conditions are not
    supported."""
    return F.coalesce(col.cast("boolean"), F.lit(False))


#: dict-operand expression operators → their FULL server argument sets
#: (r12, the silently-ignored-argument audit extended to the expression
#: language: a misspelled or unsupported argument refuses instead of
#: being dropped).  Checked only when the operand IS a dict — several of
#: these also take scalar/list shorthand forms.  Keys listed here but
#: handled specially (ISO week-date in $dateFromParts, method in
#: $median/$percentile) keep their own informative refusals/deviations.
_EXPR_DICT_KEYS: dict[str, frozenset] = {
    "$let": frozenset({"vars", "in"}),
    "$cond": frozenset({"if", "then", "else"}),
    "$trim": frozenset({"input", "chars"}),
    "$ltrim": frozenset({"input", "chars"}),
    "$rtrim": frozenset({"input", "chars"}),
    "$replaceOne": frozenset({"input", "find", "replacement"}),
    "$replaceAll": frozenset({"input", "find", "replacement"}),
    "$getField": frozenset({"field", "input"}),
    "$setField": frozenset({"field", "input", "value"}),
    "$unsetField": frozenset({"field", "input"}),
    "$convert": frozenset({"input", "to", "onError", "onNull"}),
    "$dateFromString": frozenset({"dateString", "format", "timezone",
                                  "onError", "onNull"}),
    "$map": frozenset({"input", "as", "in"}),
    "$filter": frozenset({"input", "cond", "as", "limit"}),
    "$reduce": frozenset({"input", "initialValue", "in"}),
    "$switch": frozenset({"branches", "default"}),
    "$sortArray": frozenset({"input", "sortBy"}),
    "$zip": frozenset({"inputs", "useLongestLength", "defaults"}),
    "$dateAdd": frozenset({"startDate", "unit", "amount", "timezone"}),
    "$dateSubtract": frozenset({"startDate", "unit", "amount",
                                "timezone"}),
    "$dateTrunc": frozenset({"date", "unit", "binSize", "timezone",
                             "startOfWeek"}),
    "$dateDiff": frozenset({"startDate", "endDate", "unit", "timezone",
                            "startOfWeek"}),
    "$dateToString": frozenset({"date", "format", "timezone", "onNull"}),
    "$dateToParts": frozenset({"date", "timezone", "iso8601"}),
    "$dateFromParts": frozenset({"year", "month", "day", "hour", "minute",
                                 "second", "millisecond", "isoWeekYear",
                                 "isoWeek", "isoDayOfWeek", "timezone"}),
    "$median": frozenset({"input", "method"}),
    "$percentile": frozenset({"input", "p", "method"}),
    "$regexMatch": frozenset({"input", "regex", "options"}),
    "$regexFind": frozenset({"input", "regex", "options"}),
    "$regexFindAll": frozenset({"input", "regex", "options"}),
    "$firstN": frozenset({"input", "n"}),
    "$lastN": frozenset({"input", "n"}),
    "$minN": frozenset({"input", "n"}),
    "$maxN": frozenset({"input", "n"}),
    "$top": frozenset({"sortBy", "output"}),
    "$bottom": frozenset({"sortBy", "output"}),
    "$topN": frozenset({"sortBy", "output", "n"}),
    "$bottomN": frozenset({"sortBy", "output", "n"}),
}

#: date operators whose server ``timezone`` argument the engine cannot
#: honor (expressions run in the Spark session TZ — the documented
#: caveat): the server DEFAULT "UTC" is accepted as a no-op relative to
#: that caveat; any other zone refuses instead of being silently ignored
_TZ_UTC_ONLY = frozenset({"$dateTrunc", "$dateAdd", "$dateSubtract",
                          "$dateDiff", "$dateToString", "$dateFromString",
                          "$dateToParts"})


def _check_expr_keys(op: str, operand) -> None:
    allowed = _EXPR_DICT_KEYS.get(op)
    if allowed is None or not isinstance(operand, dict):
        return
    _check_spec_keys(op, operand, allowed)
    if op in _TZ_UTC_ONLY and "timezone" in operand:
        tz = operand["timezone"]
        if tz != "UTC":
            raise ValueError(
                f"{op}: timezone {tz!r} is unsupported (expressions "
                "evaluate in the Spark session timezone; only the server "
                "default 'UTC' is accepted — run the session in UTC or "
                "shift with epoch arithmetic)")
        # an explicit 'UTC' is a concrete request: honor it only when
        # the session actually evaluates in UTC, else refuse (r12
        # review — accepting it under a non-UTC session would be the
        # same silent dishonoring the refusal above exists to prevent)
        from pyspark.sql import SparkSession
        sess = SparkSession.getActiveSession()
        stz = sess.conf.get("spark.sql.session.timeZone") if sess else None
        _UTC_ALIASES = ("UTC", "Etc/UTC", "GMT", "Z", "+00:00", "+0000",
                        "Etc/GMT", "Etc/GMT0", "Etc/GMT+0", "Etc/GMT-0",
                        "GMT0", "GMT+00:00", "Etc/UCT", "UCT",
                        "Etc/Universal", "Universal", "Etc/Zulu", "Zulu",
                        "Etc/Greenwich", "Greenwich")
        if stz is not None and stz not in _UTC_ALIASES:
            raise ValueError(
                f"{op}: timezone 'UTC' requested but the Spark session "
                f"timezone is {stz!r} — set "
                "spark.sql.session.timeZone=UTC (expressions evaluate "
                "in the session timezone)")


def _expr_op(op: str, operand, env: dict[str, Column] | None = None) -> Column:
    def E(x):
        return expr_to_col(x, env)

    def _binary(pair):
        a, b = pair
        return E(a), E(b)

    _check_expr_keys(op, operand)
    if op == "$literal":
        return F.lit(operand)
    if op == "$let":
        bound = dict(env or {})
        for name, vexpr in operand["vars"].items():
            bound[name] = expr_to_col(vexpr, env)
        return expr_to_col(operand["in"], bound)
    # arithmetic ---------------------------------------------------------
    if op == "$add":
        cols = [E(x) for x in operand]
        out = cols[0]
        for c in cols[1:]:
            out = out + c
        return out
    if op == "$subtract":
        a, b = _binary(operand)
        return a - b
    if op == "$multiply":
        cols = [E(x) for x in operand]
        out = cols[0]
        for c in cols[1:]:
            out = out * c
        return out
    if op == "$divide":
        a, b = _binary(operand)
        return a / b
    if op == "$mod":
        a, b = _binary(operand)
        return a % b
    if op == "$abs":
        return F.abs(E(operand))
    if op == "$ceil":
        return F.ceil(E(operand))
    if op == "$floor":
        return F.floor(E(operand))
    if op == "$round":
        # bround, not round: the server rounds HALF TO EVEN ("uses the
        # 'round half to even' approach to perform rounding") — Spark's
        # F.round is half-up, which disagrees on every exact .5
        # ($round(2.5) is 2 on the server, 3 under half-up)
        e, places = (operand if isinstance(operand, list) else (operand, 0))
        if not isinstance(places, int) or isinstance(places, bool):
            # refuse loudly (r11) — previously an expression place was
            # SILENTLY read as 0; Spark's bround takes a literal scale
            raise ValueError(
                "$round place must be an integer literal (expression "
                f"places are unsupported; got {places!r})")
        return F.bround(E(e), places)
    if op == "$sqrt":
        return F.sqrt(E(operand))
    if op == "$pow":
        a, b = _binary(operand)
        return F.pow(a, b)
    if op == "$exp":
        return F.exp(E(operand))
    if op == "$ln":
        return F.log(E(operand))
    # comparison ---------------------------------------------------------
    if op in ("$eq", "$ne", "$gt", "$gte", "$lt", "$lte"):
        a, b = _binary(operand)
        return {"$eq": a == b, "$ne": a != b, "$gt": a > b,
                "$gte": a >= b, "$lt": a < b, "$lte": a <= b}[op]
    if op == "$cmp":
        # null sorts LOWEST in the BSON ordering (SURVEY §1.2), so
        # $cmp(null, x) is -1, not 0 — a null-propagating `<` would
        # fall through every when() and return 0 (r10 fix)
        a, b = _binary(operand)
        return (F.when(a.isNull() & b.isNull(), 0)
                .when(a.isNull(), -1).when(b.isNull(), 1)
                .when(a < b, -1).when(a > b, 1).otherwise(0))
    # boolean (operands coerced with Mongo truthiness: null/0 → false) ---
    if op == "$and":
        cols = [_truthy(E(x)) for x in operand]
        out = cols[0]
        for c in cols[1:]:
            out = out & c
        return out
    if op == "$or":
        cols = [_truthy(E(x)) for x in operand]
        out = cols[0]
        for c in cols[1:]:
            out = out | c
        return out
    if op == "$not":
        inner = operand[0] if isinstance(operand, list) else operand
        return ~_truthy(E(inner))
    # conditional --------------------------------------------------------
    if op == "$cond":
        if isinstance(operand, dict):
            cond, then, els = operand["if"], operand["then"], operand["else"]
        else:
            cond, then, els = operand
        return F.when(_truthy(E(cond)), E(then)).otherwise(E(els))
    if op == "$ifNull":
        return F.coalesce(*[E(x) for x in operand])
    # string -------------------------------------------------------------
    if op == "$concat":
        return F.concat(*[E(x) for x in operand])
    if op == "$toUpper":
        return F.upper(E(operand))
    if op == "$toLower":
        return F.lower(E(operand))
    if op == "$strLenCP":
        return F.length(E(operand))
    if op == "$substrCP":
        s, start, ln = operand
        # Mongo is 0-based, Spark substring is 1-based.  Literal
        # start/length validate the server's nonnegative rule at compile
        # time; expression forms compile through (r10 — previously a
        # non-literal start was SILENTLY read as 0).
        for nm, v in (("starting index", start), ("length", ln)):
            if isinstance(v, bool) or (isinstance(v, int) and v < 0):
                raise ValueError(f"$substrCP: the {nm} must be a "
                                 f"nonnegative integer (got {v!r})")
        # Expression forms are clamped to >= 0 at runtime (r11, per
        # ADVICE): the server ERRORS on a negative start/length, but a
        # raw negative here would silently flip Spark's substring into
        # count-from-the-end semantics — clamping keeps the result inside
        # server-reachable space (documented deviation: clamp, not raise).
        start_c = F.lit(start + 1) if isinstance(start, int) \
            else (F.greatest(E(start).cast("int"), F.lit(0)) + 1)
        ln_c = F.lit(ln) if isinstance(ln, int) \
            else F.greatest(E(ln).cast("int"), F.lit(0))
        return F.substring(E(s), start_c, ln_c)
    if op == "$split":
        s, delim = operand
        # literal delimiter, not a regex (server semantics); the server
        # rejects an empty separator outright
        if not isinstance(delim, str) or delim == "":
            raise ValueError(
                "$split requires a non-empty string literal delimiter "
                f"(got {delim!r})")
        import re as _re
        return F.split(E(s), _re.escape(delim))
    if op in ("$trim", "$ltrim", "$rtrim"):
        inp = E(operand["input"] if isinstance(operand, dict) else operand)
        chars = operand.get("chars") if isinstance(operand, dict) else None
        fn = {"$trim": F.trim, "$ltrim": F.ltrim, "$rtrim": F.rtrim}[op]
        if chars is None:
            return fn(inp)
        if not isinstance(chars, str):
            raise ValueError(f"{op} chars must be a string literal")
        import re as _re
        cls = "[" + "".join(_re.escape(c) for c in chars) + "]+"
        pat = {"$trim": f"^{cls}|{cls}$", "$ltrim": f"^{cls}",
               "$rtrim": f"{cls}$"}[op]
        return F.regexp_replace(inp, pat, "")
    if op == "$indexOfCP":
        s, sub = operand[0], operand[1]
        if not isinstance(sub, str) or sub.startswith("$"):
            raise ValueError("$indexOfCP substring must be a string literal")
        if len(operand) == 2:
            # instr is 1-based, 0 on miss; Mongo is 0-based, -1 on miss
            return F.instr(E(s), sub) - 1
        # range form: search within [start, end) codepoints, result
        # index relative to the WHOLE string; start past the string end
        # → -1, but NEGATIVE start/end is an ERROR on the server — raise
        # at compile time for provably negative literals (runtime-column
        # operands can't be checked until execution and fall through to
        # the -1 guard below, a documented softening)
        for pos_arg in operand[2:4]:
            if (isinstance(pos_arg, (int, float))
                    and not isinstance(pos_arg, bool) and pos_arg < 0):
                raise ValueError(
                    "$indexOfCP: start/end must be non-negative "
                    f"(got {pos_arg!r}) — server error code 40097")
        start = E(operand[2]).cast("int")
        text = E(s)
        end = (E(operand[4 - 1]).cast("int") if len(operand) > 3
               else F.length(text))
        region = F.substring(text, start + 1,
                             F.greatest(end - start, F.lit(0)))
        pos = F.instr(region, sub)
        return (F.when((start < 0) | (start > F.length(text)), F.lit(-1))
                .when(pos == 0, F.lit(-1))
                .otherwise(pos - 1 + start))
    if op == "$replaceAll":
        return F.replace(E(operand["input"]), E(operand["find"]),
                         E(operand["replacement"]))
    if op == "$replaceOne":
        inp, find = E(operand["input"]), E(operand["find"])
        repl = E(operand["replacement"])
        pos = F.instr(inp, find)
        return F.when(pos == 0, inp).otherwise(F.concat(
            F.substr(inp, F.lit(1), pos - 1), repl,
            F.substr(inp, pos + F.length(find), F.length(inp))))
    if op == "$strcasecmp":
        # server semantics: internally UPPERcases (sign differs from
        # lowercasing for chars in ASCII 91-96, e.g. '_')
        a, b = F.upper(E(operand[0])), F.upper(E(operand[1]))
        return (F.when(a < b, -1).when(a > b, 1).otherwise(0))
    if op == "$toString":
        return E(operand).cast("string")
    # object field access -------------------------------------------------
    if op == "$getField":
        # literal field name (server contract); [] works for struct
        # fields and MAP keys alike
        if isinstance(operand, str):
            raise ValueError(
                "$getField shorthand on the root document is not supported"
                " — use {field, input}")
        return E(operand["input"])[operand["field"]]
    if op == "$setField":
        if operand.get("value") == "$$REMOVE":
            # server: $setField with $$REMOVE REMOVES the field — for
            # struct inputs dropFields expresses that exactly (r12;
            # the generic $$REMOVE→null mapping would have written a
            # null-valued field instead)
            return E(operand["input"]).dropFields(operand["field"])
        return E(operand["input"]).withField(
            operand["field"], E(operand["value"]))
    if op == "$unsetField":
        # Mongo 5.0 companion of $setField; struct inputs only (like
        # $setField above — dropFields is the exact server semantics:
        # removing a missing field is a no-op)
        return E(operand["input"]).dropFields(operand["field"])
    if op == "$mergeObjects":
        # MAP-typed dynamic documents; later operands overwrite earlier
        # keys (server semantics).  map_concat can't express later-wins
        # portably (dup-key policy is a session conf), so earlier entries
        # whose key reappears later are filtered before the merge.
        # Null operands are IGNORED like the server (all-null → {}) —
        # r11: previously one null operand poisoned the whole merge.
        ops = operand if isinstance(operand, list) else [operand]
        merged = None
        for x in ops:
            ent = F.coalesce(F.map_entries(E(x)), F.array())
            if merged is None:
                merged = ent
                continue
            nxt = ent
            kept = F.filter(
                merged,
                lambda e: ~F.exists(nxt, lambda n: n["key"] == e["key"]))
            merged = F.concat(kept, nxt)
        return F.map_from_entries(merged)
    # date ---------------------------------------------------------------
    if op in ("$year", "$month", "$dayOfMonth", "$hour", "$minute",
              "$second", "$dayOfWeek"):
        fn = {"$year": F.year, "$month": F.month, "$dayOfMonth": F.dayofmonth,
              "$hour": F.hour, "$minute": F.minute, "$second": F.second,
              "$dayOfWeek": F.dayofweek}[op]
        return fn(E(operand))
    if op == "$isoWeek":
        return F.weekofyear(E(operand))     # Spark weekofyear IS ISO 8601
    if op == "$isoWeekYear":
        # the ISO week-numbering year (Jan 1 can belong to the previous
        # ISO year); Spark's extract(YEAROFWEEK) is the ISO definition
        return F.extract(F.lit("YEAROFWEEK"), E(operand)).cast("long")
    if op == "$isoDayOfWeek":
        # dayofweek: 1=Sunday..7=Saturday → ISO 1=Monday..7=Sunday
        return F.pmod(F.dayofweek(E(operand)) + F.lit(5), F.lit(7)) + F.lit(1)
    if op == "$millisecond":
        return F.pmod(F.floor(F.unix_micros(E(operand)) / 1000),
                      F.lit(1000)).cast("int")
    # array --------------------------------------------------------------
    if op == "$size":
        return F.size(E(operand))
    if op == "$arrayElemAt":
        arr, idx = operand
        # element_at is 1-based; negative indexes count from the end in both.
        # try_element_at: Mongo returns *missing* for an out-of-range index
        # (plain element_at raises under ANSI mode, which Spark 4 defaults on)
        if isinstance(idx, int) and not isinstance(idx, bool):
            return F.try_element_at(E(arr),
                                    F.lit(idx + 1 if idx >= 0 else idx))
        # expression index (r11 — previously SILENTLY read as 0, the
        # dangerous ignored-argument kind): same 0-based→1-based shift,
        # negatives count from the end
        i = E(idx).cast("int")
        return F.try_element_at(E(arr),
                                F.when(i >= 0, i + 1).otherwise(i))
    if op == "$concatArrays":
        return F.concat(*[E(x) for x in operand])
    if op == "$in":
        # aggregation equality: null matches null (r11 — array_contains
        # returns null for a null needle, poisoning the result; the
        # server finds null elements).  Same eqNullSafe rule as
        # $indexOfArray.
        elem, arr = operand
        e = E(elem)
        return F.exists(E(arr), lambda x: x.eqNullSafe(e))
    # object/map reshaping ------------------------------------------------
    if op == "$objectToArray":
        # Dynamic documents are modeled as MAP columns (the only Spark
        # type whose keys are data, matching Mongo's schemaless objects);
        # emits the server's [{k, v}, ...] shape in key order.
        return F.transform(
            F.map_entries(E(operand)),
            lambda e: F.struct(e["key"].alias("k"), e["value"].alias("v")))
    if op == "$arrayToObject":
        # Accepts the {k, v}-struct element form (exactly what
        # $objectToArray emits, so round-trips compose).  Mongo's
        # [[k, v], ...] pair form needs runtime element-type dispatch a
        # compile-time Column can't do — fail loud instead of guessing.
        arr = operand
        if isinstance(arr, list):
            if not (len(arr) == 1 and isinstance(arr[0], list)):
                raise ValueError(
                    "$arrayToObject literal form must be [[{k,v}, ...]]; "
                    "the [[key, value], ...] pair form is not supported")
            if any(isinstance(e, list) for e in arr[0]):
                raise ValueError(
                    "$arrayToObject [[key, value], ...] pair elements are "
                    "not supported — use {k: ..., v: ...} documents")
            entries = F.array(*[E(e) for e in arr[0]])
        else:
            entries = E(arr)
        ent = F.transform(entries, lambda x: F.struct(x["k"], x["v"]))
        # duplicate keys: the server keeps the LAST value; Spark's
        # map_from_entries THROWS under the default mapKeyDedupPolicy
        # (a session conf this compiler must not depend on).  Keep each
        # entry only if no LATER entry shares its key — last-wins, with
        # each surviving key at its LAST-occurrence position (e.g.
        # [a,b,a] -> [b,a]); O(entries²) per row on small per-document
        # arrays.
        dedup = F.filter(ent, lambda x, i: ~F.exists(
            F.slice(ent, i + F.lit(2),
                    F.greatest(F.size(ent) - i - 1, F.lit(0))),
            lambda y: y["k"] == x["k"]))
        return F.map_from_entries(dedup)
    # conversion ---------------------------------------------------------
    if op == "$toInt":
        return E(operand).cast("int")
    if op == "$toLong":
        return E(operand).cast("long")
    if op == "$toDouble":
        return E(operand).cast("double")
    if op == "$toDecimal":
        return E(operand).cast("decimal(38,6)")
    if op == "$toBool":
        return E(operand).cast("boolean")
    if op == "$toDate":
        return E(operand).cast("timestamp")
    if op == "$toObjectId":
        # 24-hex validation, NULL through (functions.to_object_id / U1)
        from mongo_hadoop_spark.functions import to_object_id
        return to_object_id(E(operand))
    if op == "$toUUID":
        # Mongo 8.0: string → UUID (canonical 8-4-4-4-12 lowercase);
        # malformed input nulls out, like $toObjectId's convention
        low = F.lower(E(operand))
        return F.when(low.rlike(
            "^[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}"
            "-[0-9a-f]{4}-[0-9a-f]{12}$"), low)
    if op in ("$function", "$accumulator"):
        # server-side JavaScript — same standing refusal as $where:
        # arbitrary JS has no declarative Spark translation, and shipping
        # an interpreter would put a per-row black box in the hot path
        raise ValueError(
            f"{op} runs server-side JavaScript — not supported; express "
            "the logic as aggregation operators (or mapInPandas outside "
            "the pipeline language)")
    if op == "$rand":
        # deliberate determinism deviation (the $sample/$sampleRate
        # precedent, r8): the server draws an independent uniform per
        # evaluation; here it's a uniform md5 hash of the whole row —
        # reproducible on any engine/partitioning.  The FIRST $rand in a
        # pipeline is bit-identical to the $sampleRate gate's fraction,
        # so {$lt: [{$rand: {}}, r]} composes into exactly that gate's
        # keep-set; subsequent $rand sites in the same pipeline are
        # salted by their occurrence index (r10, per ADVICE) so
        # double-threshold random splits do not silently correlate.
        # Residual deviation: duplicate rows still draw equal values.
        if operand not in ({}, None):
            raise ValueError("$rand takes {} (no operands)")
        seq = _RAND_SEQ.get()
        idx = next(seq) if seq is not None else 0
        payload = ("to_json(struct(*))" if idx == 0
                   else f"concat(to_json(struct(*)), '#rand{idx}')")
        return (F.expr(f"conv(substring(md5({payload}), 1, 15), "
                       "16, 10)").cast("double") / F.lit(float(2 ** 60)))
    if op == "$convert":
        # the general conversion op: try_cast semantics with onError /
        # onNull; string/numeric `to` aliases (same table as $type)
        to = operand["to"]
        codes = {1: "double", 2: "string", 8: "bool", 9: "date",
                 16: "int", 18: "long", 19: "decimal"}
        to = codes.get(to, to) if isinstance(to, int) else to
        spark_t = {"double": "double", "string": "string",
                   "bool": "boolean", "date": "timestamp", "int": "int",
                   "long": "long", "decimal": "decimal(38,6)"}.get(to)
        if spark_t is None:
            raise ValueError(f"unsupported $convert target type {to!r}")
        inp = E(operand["input"])
        converted = inp.try_cast(spark_t)
        if "onError" in operand:
            converted = F.coalesce(converted, E(operand["onError"]))
        if "onNull" in operand:
            return F.when(inp.isNull(), E(operand["onNull"])) \
                .otherwise(converted)
        return F.when(inp.isNull(), F.lit(None)).otherwise(converted)
    if op == "$dateFromString":
        fmt = _date_fmt(operand.get("format", "%Y-%m-%dT%H:%M:%S"))
        ds = E(operand["dateString"])
        parsed = F.try_to_timestamp(ds, F.lit(fmt))
        if "onError" in operand:
            # onError covers PARSE failures only — null input yields
            # null (or onNull), exactly like $convert above
            parsed = F.coalesce(parsed, E(operand["onError"]))
        on_null = E(operand["onNull"]) if "onNull" in operand \
            else F.lit(None)
        return F.when(ds.isNull(), on_null).otherwise(parsed)
    # array higher-order ops (compiled to Spark lambda HOFs; the bound
    # variable enters the env as $$this / $$value / the named "as")
    if op == "$map":
        var = operand.get("as", "this")
        return F.transform(
            E(operand["input"]),
            lambda x: expr_to_col(operand["in"], {**(env or {}), var: x, "this": x}))
    if op == "$filter":
        var = operand.get("as", "this")
        filtered = F.filter(
            E(operand["input"]),
            lambda x: expr_to_col(operand["cond"], {**(env or {}), var: x, "this": x}))
        limit = operand.get("limit")
        if limit is None:
            return filtered
        # Mongo 5.2 limit: first n matches (previously IGNORED silently)
        if not isinstance(limit, int) or isinstance(limit, bool) \
                or limit < 1:
            raise ValueError("$filter limit must be a positive integer "
                             f"literal (got {limit!r})")
        return F.slice(filtered, 1, limit)
    if op == "$reduce":
        arr = E(operand["input"])
        init = E(operand["initialValue"])
        # Server typing is dynamic (the accumulator promotes per
        # element), but Spark's aggregate() requires the zero to ALREADY
        # carry the merge expression's result type — {$reduce: {input:
        # "$longs", initialValue: 0, in: {$add: [...]}}} used to fail
        # analysis with INT zero vs BIGINT merge.  Resolve the merge
        # type symbolically: apply the in-expression once to (init,
        # first element) inside a never-taken branch; when(false,
        # probe).otherwise(init) analyzes to the least-common type with
        # init's value, and SimplifyConditionals folds the dead branch
        # out of the physical plan.  F.get (not element_at) keeps the
        # probe null-safe even if it were ever evaluated under ANSI.
        # the probe is a THROWAWAY compile of the in-expression: shield
        # the $rand occurrence sequence so it does not consume an index
        # and shift every later $rand site's salt (review fix, r12)
        probe_tok = _RAND_SEQ.set(None)
        try:
            probe = expr_to_col(
                operand["in"],
                {**(env or {}), "value": init,
                 "this": F.get(arr, F.lit(0))})
        finally:
            _RAND_SEQ.reset(probe_tok)
        zero = F.when(F.lit(False), probe).otherwise(init)
        return F.aggregate(
            arr, zero,
            lambda acc, x: expr_to_col(
                operand["in"], {**(env or {}), "value": acc, "this": x}))
    if op == "$switch":
        # server: "$switch requires at least one branch" (r12 — an empty
        # branches list previously crashed with AttributeError on None)
        if not operand.get("branches"):
            raise ValueError("$switch requires at least one branch")
        out = None
        for br in operand["branches"]:
            _check_spec_keys("$switch branch", br, {"case", "then"})
            c, t = _truthy(E(br["case"])), E(br["then"])
            out = F.when(c, t) if out is None else out.when(c, t)
        if "default" in operand:
            return out.otherwise(E(operand["default"]))
        # no default + no matching branch is a SERVER ERROR (r11 —
        # previously fell through to null, the dangerous silent kind);
        # raise_error reproduces the fail-the-query behavior per row
        return out.otherwise(F.raise_error(F.lit(
            "$switch could not find a matching branch for an input, "
            "and no default was specified")))
    if op == "$range":
        start_, end_ = E(operand[0]), E(operand[1])
        step = operand[2] if len(operand) > 2 else 1
        if not isinstance(step, int) or step == 0:
            raise ValueError("$range step must be a nonzero integer literal")
        # Mongo excludes the end bound; sequence() includes it
        return F.when(
            (end_ - start_) * F.lit(step) <= 0, F.array().cast("array<int>")
        ).otherwise(
            F.sequence(start_.cast("int"),
                       (end_ - F.lit(1 if step > 0 else -1)).cast("int"),
                       F.lit(step)))
    if op == "$reverseArray":
        return F.reverse(E(operand))
    if op == "$sortArray":
        by = operand.get("sortBy", 1)
        if isinstance(by, dict):
            # document sort keys over struct elements (r12): the same
            # multi-key -1/0/1 comparator the $lookup sub-pipeline
            # $sort uses — BSON null ordering (nulls first ascending,
            # last descending) per key, later keys tie-break
            if not by or not all(
                    not isinstance(d, bool) and d in (1, -1)
                    for d in by.values()):
                raise ValueError(
                    "$sortArray document sortBy values must be 1 or -1")
            return F.array_sort(E(operand["input"]),
                                _array_sort_comparator(by))
        if not isinstance(by, int):
            raise ValueError(
                "$sortArray sortBy must be 1/-1 or a {field: 1|-1} "
                "document")
        return F.sort_array(E(operand["input"]), asc=by >= 0)
    if op == "$zip":
        inputs = [E(x) for x in operand["inputs"]]
        # server rule (both forms): if ANY input resolves to null or a
        # missing field, the whole $zip is null — not empty/padded
        nn = _fold_and([c.isNotNull() for c in inputs])
        if operand.get("useLongestLength"):
            # pad to the longest input; per-input default (or null)
            # fills the missing tail — Spark arrays are homogeneous, so
            # inputs (and defaults) must share element type
            defaults = operand.get("defaults")
            if defaults is not None and len(defaults) != len(inputs):
                raise ValueError("$zip defaults must match inputs length")
            longest = (F.size(inputs[0]) if len(inputs) == 1
                       else F.greatest(*[F.size(c) for c in inputs]))
            dflt = [E(defaults[j]) if defaults is not None else F.lit(None)
                    for j in range(len(inputs))]
            return F.when(nn, F.transform(
                F.filter(F.sequence(F.lit(1),
                                    F.greatest(longest, F.lit(1))),
                         lambda i: i <= longest),
                lambda i: F.array(*[
                    F.when(i <= F.size(c), F.element_at(c, i))
                    .otherwise(d) for c, d in zip(inputs, dflt)])))
        # Mongo yields array-of-arrays truncated to the shortest input;
        # Spark arrays are homogeneous, so inputs must share element type
        shortest = (F.size(inputs[0]) if len(inputs) == 1
                    else F.least(*[F.size(c) for c in inputs]))
        # shortest == 0 must yield [] — sequence(1, 0) would count DOWN
        # ([1, 0]) and element_at(col, 0) raises at runtime.  Clamp the
        # sequence end to ≥1 and filter out-of-range indexes so the
        # transform lambda never sees an invalid index.
        return F.when(nn, F.transform(
            F.filter(F.sequence(F.lit(1), F.greatest(shortest, F.lit(1))),
                     lambda i: i <= shortest),
            lambda i: F.array(*[F.element_at(c, i) for c in inputs])))
    if op == "$firstN":
        return F.slice(E(operand["input"]), 1, int(operand["n"]))
    if op == "$lastN":
        return F.reverse(
            F.slice(F.reverse(E(operand["input"])), 1, int(operand["n"])))
    if op == "$trunc":
        e, places = (operand if isinstance(operand, list) else (operand, 0))
        if not isinstance(places, int) or isinstance(places, bool):
            raise ValueError(
                "$trunc places must be an integer literal (field-path "
                f"operands are not supported): {places!r}")
        p = places
        scale = F.lit(float(10 ** p))
        x = E(e)
        return (F.when(x >= 0, F.floor(x * scale))
                .otherwise(F.ceil(x * scale)) / scale)
    if op == "$log10":
        return F.log10(E(operand))
    if op == "$log":
        num, base = operand
        return F.log(E(num)) / F.log(E(base))
    if op == "$dateSubtract":
        unit, amount = operand["unit"], operand["amount"]
        if not isinstance(amount, int):
            raise ValueError("$dateSubtract amount must be an integer literal")
        if unit in ("year", "quarter", "month", "week"):
            months = {"year": 12, "quarter": 3, "month": 1}.get(unit)
            iv = (F.make_interval(months=F.lit(amount * months))
                  if months else
                  F.make_interval(weeks=F.lit(amount)))
            return E(operand["startDate"]) - iv
        if unit == "millisecond":
            # exact epoch-millis arithmetic (a dt-interval of
            # amount/1000 s would round through binary fractions)
            x = E(operand["startDate"]).cast("timestamp")
            return F.timestamp_millis(F.unix_millis(x) - F.lit(amount))
        if unit not in ("day", "hour", "minute", "second"):
            raise ValueError(f"unsupported $dateSubtract unit {unit!r}")
        kw = {"day": "days", "hour": "hours", "minute": "mins",
              "second": "secs"}[unit]
        return E(operand["startDate"]) - F.make_dt_interval(
            **{kw: F.lit(amount)})
    if op == "$indexOfArray":
        arr, search = operand[0], operand[1]

        # Null-safe 0-based first-match scan (r11, per ADVICE): the server
        # compares with aggregation equality, under which null == null, so
        # a null search value FINDS null elements (and misses → -1) — it
        # does not poison the result.  array_position cannot express that
        # (null search → null), so both forms share one eqNullSafe fold;
        # a null ARRAY still yields null (HOFs propagate null input).
        def _nullsafe_idx(window, needle):
            indexed = F.transform(
                window, lambda x, i: F.struct(x.alias("v"), i.alias("i")))
            return F.aggregate(
                indexed, F.lit(-1),
                lambda acc, s: F.when(
                    (acc == -1) & s["v"].eqNullSafe(needle),
                    s["i"].cast("int")).otherwise(acc))

        if len(operand) == 2:
            return _nullsafe_idx(E(arr), E(search))
        # 4-arg range form (search within [start, end)); index reported
        # against the ORIGINAL array — previously the extra args were
        # IGNORED silently (r10)
        start = operand[2]
        end = operand[3] if len(operand) > 3 else None
        for nm, v in (("start", start), ("end", end)):
            if v is not None and (not isinstance(v, int)
                                  or isinstance(v, bool) or v < 0):
                raise ValueError(f"$indexOfArray {nm} must be a "
                                 f"nonnegative integer literal (got {v!r})")
        a = E(arr)
        window = (F.slice(a, start + 1,
                          F.greatest(F.size(a) - start, F.lit(0)))
                  if end is None
                  else F.slice(a, start + 1, max(end - start, 0)))
        pos = _nullsafe_idx(window, E(search))
        return F.when(pos >= 0, (pos + start).cast("int")) \
            .otherwise(F.when(a.isNotNull(), F.lit(-1)).cast("int"))
    if op == "$setUnion":
        cols = [E(x) for x in operand]
        out = cols[0]
        for c in cols[1:]:
            out = F.array_union(out, c)
        return F.array_sort(F.array_distinct(out))
    if op == "$setIntersection":
        cols = [E(x) for x in operand]
        out = cols[0]
        for c in cols[1:]:
            out = F.array_intersect(out, c)
        return F.array_sort(F.array_distinct(out))
    if op == "$setDifference":
        a, b = _binary(operand)
        return F.array_sort(F.array_distinct(F.array_except(a, b)))
    if op == "$setIsSubset":
        a, b = _binary(operand)
        return F.size(F.array_except(F.array_distinct(a), b)) == 0
    if op == "$setEquals":
        a, b = _binary(operand)
        return (F.size(F.array_except(a, b)) == 0) \
            & (F.size(F.array_except(b, a)) == 0)
    if op == "$slice":
        if len(operand) == 2:
            arr, n = E(operand[0]), operand[1]
            if not isinstance(n, int):
                raise ValueError("$slice count must be an integer literal")
            return F.slice(arr, 1, n) if n >= 0 else F.slice(arr, n, -n)
        arr, pos, n = E(operand[0]), operand[1], operand[2]
        if not isinstance(pos, int) or not isinstance(n, int) or n < 0:
            raise ValueError("$slice position/count must be integer literals")
        return F.slice(arr, pos + 1 if pos >= 0 else pos, n)
    # --- array-form accumulator expressions (Mongo 5.2/7.0: in a
    # $project/$addFields context, $min/$max/$sum/$avg & friends accept
    # an ARRAY operand and aggregate its elements per row) -------------
    if op in ("$maxN", "$minN"):
        # {$maxN: {n, input}}: the n largest (resp. smallest) elements,
        # ordered largest-first (resp. smallest-first); nulls ignored
        # (server: nulls/missing are not candidates)
        arr = F.filter(E(operand["input"]), lambda x: x.isNotNull())
        srt = F.sort_array(arr, asc=(op == "$minN"))
        return F.slice(srt, 1, int(operand["n"]))
    if op == "$max" and isinstance(operand, list):
        return F.greatest(*[E(x) for x in operand])
    if op == "$min" and isinstance(operand, list):
        return F.least(*[E(x) for x in operand])
    if op in ("$max", "$min"):
        # scalar-LITERAL operands pass through like the server (r11 —
        # {$max: 5} is 5 per row, {$min: "abc"} is "abc"; previously
        # these hit array_max/array_min and failed Spark analysis).
        # Scalar-typed FIELD PATHS are dispatched schema-aware in
        # ``_project_expr``; here a field-path/computed operand is
        # assumed to be an array.
        if (operand is None or isinstance(operand, bool)
                or isinstance(operand, (int, float))
                or (isinstance(operand, str) and not operand.startswith("$"))):
            return F.lit(operand)
        return (F.array_max(E(operand)) if op == "$max"
                else F.array_min(E(operand)))
    if op in ("$sum", "$avg") and not isinstance(operand, list):
        # scalar-literal operands pass through like the server ({$sum: 1}
        # → 1 per row; non-numeric scalar → 0 for $sum, null for $avg) —
        # only field-path/computed operands are treated as arrays below
        if (isinstance(operand, bool)
                or (isinstance(operand, str) and not operand.startswith("$"))
                or not isinstance(operand, (int, float, str, dict))):
            return F.lit(0) if op == "$sum" else F.lit(None)
        if isinstance(operand, (int, float)):
            return F.lit(operand)
        # NOTE: scalar-typed FIELD PATHS ({$sum: "$price"} on a
        # non-array column — server pass-through) are dispatched
        # schema-aware in ``_project_expr``; here the type is unknown,
        # so a field-path operand is assumed to be an array and a
        # scalar one fails Spark analysis at plan time.
        # per-row fold over the array, LEFT-TO-RIGHT (determinism:
        # float addition is order-sensitive; a fold has one order) —
        # nulls ignored like the server; $sum of an empty array is 0,
        # $avg is null
        arr = F.filter(E(operand), lambda x: x.isNotNull())
        total = F.aggregate(arr, F.lit(0.0),
                            lambda acc, x: acc + x.cast("double"))
        if op == "$sum":
            # a NULL/missing operand sums to 0 like the server ($sum
            # "returns 0 if all operands are non-numeric") — without
            # the coalesce a null ARRAY column propagated null (r10
            # review finding), diverging from the scalar pass-through
            return F.coalesce(total, F.lit(0.0))
        n = F.size(arr)
        return F.when(n > 0, total / n.cast("double"))
    if op in ("$stdDevPop", "$stdDevSamp"):
        # sum/sum-of-squares folds (deterministic order both engines);
        # E[x^2] - E[x]^2 form, clamped at 0 against rounding
        arr = F.filter(E(operand), lambda x: x.isNotNull())
        n = F.size(arr).cast("double")
        s = F.aggregate(arr, F.lit(0.0),
                        lambda acc, x: acc + x.cast("double"))
        s2 = F.aggregate(arr, F.lit(0.0),
                         lambda acc, x: acc + x.cast("double")
                         * x.cast("double"))
        denom = n if op == "$stdDevPop" else n - F.lit(1.0)
        var = (s2 - s * s / n) / denom
        return F.when(denom > 0,
                      F.sqrt(F.greatest(var, F.lit(0.0))))
    if op == "$median":
        # expression form over an array; engine deviation (documented):
        # the server's method is an approximate t-digest, this is the
        # EXACT discrete lower median sorted[ceil(n/2)] — deterministic
        # and oracle-gateable (quantile_disc semantics)
        if isinstance(operand, dict):
            operand = operand["input"]
        arr = F.sort_array(F.filter(E(operand), lambda x: x.isNotNull()))
        n = F.size(arr)
        return F.when(n > 0, F.get(arr, F.ceil(n / 2).cast("int") - 1))
    if op == "$percentile":
        # expression form over an array (Mongo 7.0): one value per
        # requested p, as an array.  Same documented deviation as
        # $median: exact discrete (sorted[ceil(p*n)], the
        # percentile_disc convention) vs the server's t-digest.
        ps = operand["p"]
        if not (isinstance(ps, list) and
                all(isinstance(p, (int, float)) for p in ps)):
            raise ValueError("$percentile p must be a list of numeric "
                             "literals")
        arr = F.sort_array(F.filter(E(operand["input"]),
                                    lambda x: x.isNotNull()))
        n = F.size(arr)
        vals = [F.get(arr, F.greatest(
            F.ceil(n * F.lit(float(p))).cast("int"), F.lit(1)) - 1)
            for p in ps]
        return F.when(n > 0, F.array(*vals))
    if op == "$first" and not isinstance(operand, list):
        return F.get(E(operand), 0)
    if op == "$last" and not isinstance(operand, list):
        arr = E(operand)
        return F.get(arr, F.size(arr) - 1)
    # date arithmetic (timezone-naive caveat: Spark applies the session
    # timezone where the server would use the `timezone` arg; keep
    # sessions in a fixed TZ or use epoch math for cross-engine work)
    if op == "$dateTrunc":
        unit = operand["unit"]
        if unit not in ("year", "quarter", "month", "week", "day", "hour",
                        "minute", "second"):
            raise ValueError(f"unsupported $dateTrunc unit {unit!r}")
        bin_size = operand.get("binSize", 1)
        if not isinstance(bin_size, int) or isinstance(bin_size, bool) \
                or bin_size < 1:
            raise ValueError("$dateTrunc binSize must be a positive "
                             f"integer literal (got {bin_size!r})")
        starts = {"sunday": 0, "monday": 1, "tuesday": 2,
                  "wednesday": 3, "thursday": 4, "friday": 5,
                  "saturday": 6}
        sow = str(operand.get("startOfWeek", "Sunday")).lower()
        if unit == "week" and sow not in starts:
            raise ValueError(
                f"$dateTrunc: unknown startOfWeek "
                f"{operand.get('startOfWeek')!r}")
        x = E(operand["date"])
        # fixed-length units take pure epoch arithmetic for EVERY
        # binSize (r10, per ADVICE): binSize=1 is just the degenerate
        # bin, and the old date_trunc fallback truncated to
        # session-LOCAL boundaries where binSize>1 used UTC ones — the
        # two modes disagreed under a non-UTC session TZ.  The anchor
        # 946684800 (2000-01-01T00:00Z) is a multiple of 86400, so
        # binSize=1 day is exact UTC-midnight truncation (server
        # default timezone), likewise hour/minute/second.
        if unit in ("second", "minute", "hour", "day"):
            secs = {"second": 1, "minute": 60, "hour": 3600,
                    "day": 86400}[unit] * bin_size
            e2k = F.unix_timestamp(x) - F.lit(946684800)
            binned = (F.floor(e2k / F.lit(secs)) * F.lit(secs)
                      + F.lit(946684800))
            return F.timestamp_seconds(binned)
        if bin_size > 1:
            # calendar units, binSize form (Mongo 5.0): bins anchored at
            # the server's reference instant 2000-01-01T00:00:00 (for
            # week: the startOfWeek on or before it) via day/month-index
            # arithmetic.  The to_date/year/month field extraction is
            # session-TZ-interpreted — consistent with the binSize=1
            # calendar path below (both modes agree under any one
            # session TZ; keep sessions UTC for server parity).
            if unit == "week":
                # 2000-01-01 is a Saturday (dayofweek index 6); anchor
                # on the startOfWeek on-or-before it
                anchor_off = (6 - starts[sow]) % 7
                anchor = F.date_sub(F.lit("2000-01-01").cast("date"),
                                    anchor_off)
                days = F.datediff(F.to_date(x), anchor)
                step = 7 * bin_size
                return F.date_add(
                    anchor, (F.floor(days / F.lit(step))
                             * F.lit(step)).cast("int")).cast("timestamp")
            months_per = {"month": 1, "quarter": 3, "year": 12}[unit]
            step_m = months_per * bin_size
            midx = (F.year(x) - F.lit(2000)) * 12 + F.month(x) - F.lit(1)
            snapped = (F.floor(midx / F.lit(step_m))
                       * F.lit(step_m)).cast("int")
            return F.add_months(F.lit("2000-01-01").cast("date"),
                                snapped).cast("timestamp")
        if unit == "week":
            # server semantics: truncate to the startOfWeek (default
            # Sunday) midnight — Spark's date_trunc('week') is
            # hard-anchored to Monday, so do it with day arithmetic
            # (same startOfWeek table as $dateDiff week)
            d = (F.dayofweek(x) + F.lit(6 - starts[sow])) % 7
            return F.date_sub(F.to_date(x), d).cast("timestamp")
        return F.date_trunc(unit, x)
    if op == "$dateDiff":
        # the server counts UNIT-BOUNDARY CROSSINGS, not elapsed floors
        unit = operand["unit"]
        a, b = E(operand["startDate"]), E(operand["endDate"])
        if unit == "year":
            return (F.year(b) - F.year(a)).cast("long")
        if unit == "quarter":
            return ((F.year(b) - F.year(a)) * 4
                    + (F.quarter(b) - F.quarter(a))).cast("long")
        if unit == "month":
            return ((F.year(b) - F.year(a)) * 12
                    + (F.month(b) - F.month(a))).cast("long")
        if unit == "day":
            return F.datediff(b, a).cast("long")
        if unit == "week":
            # startOfWeek-boundary crossings (server semantics, default
            # Sunday): align each endpoint back to its week start, then
            # the day gap is an exact multiple of 7.  Saturday→Sunday is
            # 1 under the default, not 0 (elapsed-block floor would say 0).
            starts = {"sunday": 0, "monday": 1, "tuesday": 2,
                      "wednesday": 3, "thursday": 4, "friday": 5,
                      "saturday": 6}
            sow = str(operand.get("startOfWeek", "Sunday")).lower()
            if sow not in starts:
                raise ValueError(
                    f"$dateDiff: unknown startOfWeek {operand.get('startOfWeek')!r}")
            off = starts[sow]
            # days since week start: dayofweek is 1=Sun..7=Sat
            da = (F.dayofweek(a) + F.lit(6 - off)) % 7
            db = (F.dayofweek(b) + F.lit(6 - off)) % 7
            return (F.datediff(F.date_sub(b, db), F.date_sub(a, da))
                    / 7).cast("long")
        if unit in ("hour", "minute", "second"):
            div = {"hour": 3600, "minute": 60, "second": 1}[unit]
            ta = F.unix_timestamp(F.date_trunc(unit, a))
            tb = F.unix_timestamp(F.date_trunc(unit, b))
            return ((tb - ta) / div).cast("long")
        if unit == "millisecond":
            return (F.unix_millis(b.cast("timestamp"))
                    - F.unix_millis(a.cast("timestamp"))).cast("long")
        raise ValueError(f"unsupported $dateDiff unit {unit!r}")
    if op in ("$dateAdd",):
        unit, amount = operand["unit"], operand["amount"]
        if not isinstance(amount, int):
            raise ValueError("$dateAdd amount must be an integer literal")
        if unit in ("year", "quarter", "month", "week"):
            # calendar-aware: timestamp + year-month/week interval
            # (end-of-month clamping matches the server: Jan 31 + 1
            # month = Feb 28/29)
            months = {"year": 12, "quarter": 3, "month": 1}.get(unit)
            iv = (F.make_interval(months=F.lit(amount * months))
                  if months else
                  F.make_interval(weeks=F.lit(amount)))
            return E(operand["startDate"]) + iv
        if unit == "millisecond":
            # exact epoch-millis arithmetic (see $dateSubtract)
            x = E(operand["startDate"]).cast("timestamp")
            return F.timestamp_millis(F.unix_millis(x) + F.lit(amount))
        if unit not in ("day", "hour", "minute", "second"):
            raise ValueError(f"unsupported $dateAdd unit {unit!r}")
        kw = {"day": "days", "hour": "hours", "minute": "mins",
              "second": "secs"}[unit]
        return E(operand["startDate"]) + F.make_dt_interval(
            **{kw: F.lit(amount)})
    if op == "$dateToString":
        fmt = _date_fmt(operand.get("format", "%Y-%m-%dT%H:%M:%S"))
        d = E(operand["date"])
        s = F.date_format(d, fmt)
        if "onNull" in operand:
            # r12 audit: previously silently ignored (the no-onNull
            # behavior — null in, null out — happened to coincide)
            return F.when(d.isNull(), E(operand["onNull"])).otherwise(s)
        return s
    if op == "$dateToParts":
        d = E(operand["date"] if isinstance(operand, dict) else operand)
        ms = F.pmod(F.floor(F.unix_micros(d) / 1000), F.lit(1000)) \
            .cast("int").alias("millisecond")
        # pmod over floor-div: pre-epoch timestamps must yield 0-999
        # (Spark's % keeps the dividend sign)
        if isinstance(operand, dict) and operand.get("iso8601"):
            # iso8601: true swaps the calendar fields for the ISO
            # week-date triple (r11 — previously SILENTLY ignored)
            return F.struct(
                F.extract(F.lit("YEAROFWEEK"), d).cast("long")
                .alias("isoWeekYear"),
                F.weekofyear(d).alias("isoWeek"),
                (F.pmod(F.dayofweek(d) + F.lit(5), F.lit(7)) + F.lit(1))
                .alias("isoDayOfWeek"),
                F.hour(d).alias("hour"), F.minute(d).alias("minute"),
                F.second(d).alias("second"), ms)
        return F.struct(
            F.year(d).alias("year"), F.month(d).alias("month"),
            F.dayofmonth(d).alias("day"), F.hour(d).alias("hour"),
            F.minute(d).alias("minute"), F.second(d).alias("second"), ms)
    if op == "$dateFromParts":
        # session-TZ caveat as with the other date ops (documented)
        unsupported = {"isoWeekYear", "isoWeek", "isoDayOfWeek",
                       "timezone"} & operand.keys()
        if unsupported:
            # refuse loudly (r11) — previously these were silently
            # dropped, assembling a different instant than asked for
            raise ValueError(
                f"$dateFromParts fields {sorted(unsupported)} are "
                "unsupported (ISO week-date form and timezone)")
        parts = {k: E(operand[k]) if k in operand else F.lit(d)
                 for k, d in (("year", 2000), ("month", 1), ("day", 1),
                              ("hour", 0), ("minute", 0), ("second", 0))}
        ts = F.make_timestamp(parts["year"], parts["month"], parts["day"],
                              parts["hour"], parts["minute"],
                              parts["second"])
        if "millisecond" in operand:
            # carried via microsecond arithmetic (r11 — previously
            # silently dropped); server allows out-of-range carry
            ts = F.timestamp_micros(
                F.unix_micros(ts)
                + (E(operand["millisecond"]).cast("long") * 1000))
        return ts
    if op == "$dayOfYear":
        return F.dayofyear(E(operand))
    if op == "$week":
        # Mongo $week is the SUNDAY-start week-of-year (strftime %U:
        # days before the year's first Sunday are week 0) — NOT the ISO
        # week, which $isoWeek covers (r11; weekofyear here was ISO).
        d = E(operand)
        return F.floor((F.dayofyear(d) + F.lit(6)
                        - (F.dayofweek(d) - F.lit(1))) / F.lit(7)) \
            .cast("int")
    if op == "$regexMatch":
        return E(operand["input"]).rlike(_regex_pattern(operand))
    if op in ("$regexFind", "$regexFindAll"):
        return _regex_find(op, operand, E)
    if op == "$meta":
        # search-stage metadata: resolved from the hidden columns the
        # $vectorSearch / $geoNear stages attach (server: index metadata)
        meta_cols = {"vectorSearchScore": _VS_SCORE_COL,
                     "geoNearDistance": _GEO_DIST_COL,
                     "searchScore": _SEARCH_SCORE_COL,
                     "searchHighlights": _SEARCH_HIGHLIGHTS_COL,
                     "textScore": _TEXT_SCORE_COL,
                     "score": _FUSION_SCORE_COL}
        if operand not in meta_cols:
            raise ValueError(
                f"unsupported aggregation expression $meta kind {operand!r}")
        return F.col(meta_cols[operand])
    # trigonometry (Mongo 4.2 family) ------------------------------------
    _TRIG = {"$sin": F.sin, "$cos": F.cos, "$tan": F.tan,
             "$asin": F.asin, "$acos": F.acos, "$atan": F.atan,
             "$sinh": F.sinh, "$cosh": F.cosh, "$tanh": F.tanh,
             "$asinh": F.asinh, "$acosh": F.acosh, "$atanh": F.atanh,
             "$degreesToRadians": F.radians, "$radiansToDegrees": F.degrees}
    if op in _TRIG:
        return _TRIG[op](E(operand))
    if op == "$atan2":
        a, b = _binary(operand)
        return F.atan2(a, b)
    # bitwise integer family (Mongo 6.3) ---------------------------------
    if op in ("$bitAnd", "$bitOr", "$bitXor"):
        if not isinstance(operand, list) or not operand:
            raise ValueError(f"{op} takes a non-empty operand array")
        cols = [E(x) for x in operand]
        out = cols[0]
        for c in cols[1:]:
            if op == "$bitAnd":
                out = out.bitwiseAND(c)
            elif op == "$bitOr":
                out = out.bitwiseOR(c)
            else:
                out = out.bitwiseXOR(c)
        return out
    if op == "$bitNot":
        return F.bitwise_not(E(operand))
    # type introspection -------------------------------------------------
    # Spark column types are static, but $type/$isNumber are about the
    # *runtime* value, which matters for untyped/variant-ish columns; the
    # runtime `typeof()` answers both and collapses to a constant after
    # Catalyst constant-folding when the input type is fixed.
    if op == "$type":
        t = F.call_function("typeof", E(operand))
        return (F.when(E(operand).isNull(), "null")
                 .when(t == "string", "string")
                 .when(t.isin("int", "smallint", "tinyint"), "int")
                 .when(t == "bigint", "long")
                 .when(t.isin("double", "float"), "double")
                 .when(t.startswith("decimal"), "decimal")
                 .when(t == "boolean", "bool")
                 .when(t.isin("timestamp", "timestamp_ntz", "date"), "date")
                 .when(t.startswith("array"), "array")
                 .when(t.startswith("struct") | t.startswith("map"), "object")
                 .when(t == "binary", "binData")
                 .otherwise(t))
    if op == "$isNumber":
        t = F.call_function("typeof", E(operand))
        return (E(operand).isNotNull()
                & (t.isin("int", "smallint", "tinyint", "bigint",
                          "double", "float") | t.startswith("decimal")))
    if op == "$isArray":
        inner = operand[0] if isinstance(operand, list) else operand
        t = F.call_function("typeof", E(inner))
        return E(inner).isNotNull() & t.startswith("array")
    # set/array predicates -----------------------------------------------
    if op == "$allElementsTrue":
        arr = operand[0] if isinstance(operand, list) else operand
        return F.forall(E(arr), _truthy)
    if op == "$anyElementTrue":
        arr = operand[0] if isinstance(operand, list) else operand
        return F.exists(E(arr), _truthy)
    # byte-level string/binary sizing ------------------------------------
    if op == "$strLenBytes":
        return F.octet_length(E(operand))
    if op == "$binarySize":
        return F.octet_length(E(operand))
    if op == "$substrBytes":
        # byte-indexed substring: slice the UTF-8 encoding, decode back.
        # Documented deviation: the server ERRORS when an index splits a
        # multi-byte character; here the decode yields replacement chars
        # instead (no declarative way to raise per-row).
        s, start, count = (E(operand[0]), E(operand[1]), E(operand[2]))
        return F.decode(
            F.substring(F.encode(s, "UTF-8"), start + F.lit(1), count),
            "UTF-8")
    if op == "$indexOfBytes":
        # byte offset of the first occurrence (−1 if absent), optional
        # [start, end] byte range.  Byte positions come from the latin1
        # trick: ISO-8859-1 decodes bytes 1:1 to chars, so instr over
        # the latin1 view counts BYTES (Spark's position/instr coerce
        # binary operands back to UTF-8 strings, which would count
        # characters instead).
        args = operand if isinstance(operand, list) else [operand]

        def _bytes_view(c):
            return F.decode(F.encode(c, "UTF-8"), "ISO-8859-1")

        sb, subb = _bytes_view(E(args[0])), _bytes_view(E(args[1]))
        if len(args) > 2:
            start = E(args[2])
            end = E(args[3]) if len(args) > 3 else F.length(sb)
            window = F.substring(sb, start + F.lit(1),
                                 F.greatest(end - start, F.lit(0)))
            pos = F.instr(window, subb)
            return F.when(pos > 0, pos - 1 + start).otherwise(F.lit(-1))
        return F.instr(sb, subb) - F.lit(1)
    if op == "$tsSecond":
        # BSON timestamp ({t, i} struct per extjson) → seconds component
        return E(operand)["t"].cast("long")
    if op == "$tsIncrement":
        return E(operand)["i"].cast("long")
    raise ValueError(f"unsupported aggregation expression operator {op}")


def _regex_pattern(operand: dict) -> str:
    """Resolve a ``$regexMatch``/``$regexFind(All)`` pattern WITH its
    ``options`` (r11 — previously options were silently ignored, so
    ``{"options": "i"}`` matched case-sensitively).  The server's i/m/s/x
    map 1:1 onto Java embedded flags; anything else refuses loudly."""
    pat = operand["regex"]
    pat = pat.pattern if hasattr(pat, "pattern") else str(pat)
    opts = operand.get("options", "")
    if opts:
        bad = set(opts) - set("imsx")
        if bad:
            raise ValueError(
                f"$regex options {''.join(sorted(bad))!r} unsupported "
                "(i, m, s, x map to Java embedded flags)")
        pat = f"(?{opts})" + pat
    return pat


def _regex_find(op: str, operand: dict, E) -> Column:
    """``$regexFind`` / ``$regexFindAll`` (Mongo 4.2).

    Returns the server's document shape ``{match, idx, captures}`` — ``idx``
    is the 0-based code-point offset of the match and ``captures`` holds the
    capture groups (null for non-participating groups is approximated as
    null when the group matched empty; Spark's regexp_extract cannot tell
    the two apart — documented deviation).

    Scale: pure per-row expressions (regexp_substr / regexp_instr /
    regexp_extract_all + an ``aggregate`` fold for per-match offsets); no
    shuffle, stays inside whole-stage codegen.
    """
    import re as _re

    pat = _regex_pattern(operand)
    ngroups = _re.compile(pat).groups
    s = E(operand["input"])
    lit = F.lit(pat)
    if op == "$regexFind":
        m = F.call_function("regexp_substr", s, lit)  # NULL when no match
        idx = (F.call_function("regexp_instr", s, lit) - 1).cast("int")
        caps = F.array(*[
            F.when(m.isNotNull(),
                   F.regexp_extract(s, pat, g + 1)).otherwise(F.lit(None))
            for g in range(ngroups)])
        return F.when(m.isNotNull(),
                      F.struct(m.alias("match"), idx.alias("idx"),
                               caps.alias("captures")))
    # $regexFindAll: all non-overlapping matches.  regexp_extract_all gives
    # the match strings; offsets come from a left-to-right fold that scans
    # for each match after the previous one ended (regex scan semantics).
    matches = F.call_function("regexp_extract_all", s, lit, F.lit(0))
    caps_per_group = [F.call_function("regexp_extract_all", s, lit,
                                      F.lit(g + 1)) for g in range(ngroups)]
    def _tail(pos):
        return F.call_function("substring", s, pos + 1, F.lit(2147483647))

    def _hit(pos, m):
        # 0-based offset of m scanned from pos (instr is 1-based)
        return (pos + F.call_function("instr", _tail(pos), m) - 1).cast("int")

    zero = F.struct(
        F.array().cast("array<struct<match:string,idx:int>>").alias("acc"),
        F.lit(0).alias("pos"))
    folded = F.aggregate(
        matches, zero,
        lambda acc, m: F.struct(
            F.concat(
                acc["acc"],
                F.array(F.struct(m.alias("match"),
                                 _hit(acc["pos"], m).alias("idx")))
            ).alias("acc"),
            (_hit(acc["pos"], m)
             + F.greatest(F.length(m), F.lit(1))).alias("pos")))
    entries = folded["acc"]
    if ngroups:
        names = [f"g{i}" for i in range(1, ngroups + 1)]
        zipped = F.arrays_zip(entries.alias("m"),
                              *[c.alias(n)
                                for c, n in zip(caps_per_group, names)])
        return F.transform(zipped, lambda row: F.struct(
            row["m"]["match"].alias("match"),
            row["m"]["idx"].alias("idx"),
            F.array(*[row[n] for n in names]).alias("captures")))
    return F.transform(entries, lambda e: F.struct(
        e["match"].alias("match"), e["idx"].alias("idx"),
        F.array().cast("array<string>").alias("captures")))


# ---------------------------------------------------------------------------
# $match query syntax → boolean Column (server null semantics)
# ---------------------------------------------------------------------------


def _fold_find_options(cond):
    """Fold the find-language ``{$regex: ..., $options: "i"}`` pair into a
    single ``$regex`` pattern with Java embedded flags (same i/m/s/x
    contract as the $regexMatch expression).  Applies wherever an op-doc
    is legal — the top level of a field condition and inside ``$not``
    (r12; previously only the top level folded).  Non-dicts and dicts
    without ``$options`` pass through unchanged."""
    if not isinstance(cond, dict) or "$options" not in cond:
        return cond
    if "$regex" not in cond:
        raise ValueError("$options is only valid next to $regex")
    cond = dict(cond)
    cond["$regex"] = _regex_pattern(
        {"regex": cond["$regex"], "options": cond.pop("$options")})
    return cond


def match_to_col(query: dict) -> Column:
    """Compile a query document (the ``find()``/``$match`` language) to a
    boolean Column with MongoDB null semantics."""
    if not query:
        return F.lit(True)
    conds = [_match_field(k, v) for k, v in query.items()]
    out = conds[0]
    for c in conds[1:]:
        out = out & c
    return out


def _sql_field_ref(path: str) -> str:
    """A dotted field path as a Spark-SQL column reference: every
    segment backtick-quoted (backticks inside a name double-escaped),
    so names that are not bare identifiers — hyphens, spaces, reserved
    words — reference the column exactly like ``F.col`` instead of
    failing the parse."""
    return ".".join("`" + seg.replace("`", "``") + "`"
                    for seg in path.split("."))


def _match_field(key: str, cond) -> Column:
    if key == "$and":
        return F.lit(True) if not cond else _fold_and(
            [match_to_col(q) for q in cond])
    if key == "$or":
        return _fold_or([match_to_col(q) for q in cond])
    if key == "$nor":
        # Mongo treats a null-valued comparison as "no match" (false), so
        # its negation is TRUE — Spark's three-valued NOT(null)=null would
        # wrongly drop the row; collapse null to false before negating
        return ~F.coalesce(_fold_or([match_to_col(q) for q in cond]),
                           F.lit(False))
    if key == "$expr":
        return expr_to_col(cond)
    if key == "$jsonSchema":
        return _json_schema_col(cond)
    if key == "$where":
        raise ValueError(
            "$where runs server-side JavaScript — express the predicate "
            "with $expr aggregation operators")
    if key == "$text":
        raise ValueError(
            "$text is supported as the whole FIRST $match stage of an "
            "aggregation pipeline (engine bridge over the $search "
            "machinery; needs the 'path' extension) — it cannot appear "
            "nested under $and/$or/$nor, inside $lookup/$elemMatch, or "
            "in a non-first stage (server rule)")
    if key == "$sampleRate":
        # deliberate determinism deviation (the $sample precedent): the
        # server flips an independent coin per document; here the gate
        # is a uniform md5 hash of the whole row compared to the rate —
        # reproducible on any engine/partitioning, composable under
        # $and/$or, ~rate fraction kept on real data
        rate = float(key_rate) if (key_rate := cond) is not None else None
        if rate is None or not (0.0 <= rate <= 1.0):
            raise ValueError("$sampleRate takes a number in [0, 1]")
        frac = (F.expr("conv(substring(md5(to_json(struct(*))), 1, 15), "
                       "16, 10)").cast("double") / F.lit(float(2 ** 60)))
        return frac < F.lit(rate)
    if key == "$comment":
        # server: an annotation for the profiler, no filtering effect
        return F.lit(True)
    if key.startswith("$"):
        raise ValueError(f"unsupported top-level query operator {key}")
    col = F.col(key)
    cond = _fold_find_options(cond)
    if isinstance(cond, dict) and cond and all(k.startswith("$") for k in cond):
        # $geoIntersects gets the one-string SQL rendering when the
        # field NAME is in hand (always, here): the Column rendering
        # builds the predicate through thousands of py4j round-trips
        # (~8.5 s of plan-build measured at round 7); the SQL string is
        # one JVM parse.  Renderings are pinned bit-identical.  Each
        # path segment is backtick-quoted (r7 advisor): a hyphenated,
        # spaced, or reserved-word field name must reference the column
        # like F.col does, not fail the SQL parse.
        return _fold_and([
            F.expr(trig_mod().sphere_geo_intersects_expr(
                _sql_field_ref(key), _geo_intersects_rings(v)))
            if op == "$geoIntersects" else _match_op_col(col, op, v)
            for op, v in cond.items()])
    if cond is None:
        return col.isNull()
    return col == F.lit(cond)


_BSON_TYPE_CHECKS = {
    "string": lambda t: t == "string",
    "int": lambda t: t.isin("int", "smallint", "tinyint"),
    "long": lambda t: t == "bigint",
    "double": lambda t: t.isin("double", "float"),
    "decimal": lambda t: t.startswith("decimal"),
    "bool": lambda t: t == "boolean",
    "date": lambda t: t.isin("timestamp", "timestamp_ntz", "date"),
    "array": lambda t: t.startswith("array"),
    "object": lambda t: t.startswith("struct") | t.startswith("map"),
    "binData": lambda t: t == "binary",
    "number": lambda t: (t.isin("int", "smallint", "tinyint", "bigint",
                                "double", "float") | t.startswith("decimal")),
}


def _json_schema_col(schema: dict) -> Column:
    """``$jsonSchema`` validation (the server's collection-validator
    language, usable in any query): ``required`` + per-property
    ``bsonType``/``enum``/``pattern``/``minimum``/``maximum``/
    ``minLength``/``maxLength``/``minItems``/``maxItems``.

    JSON Schema semantics: a property constraint applies only when the
    property is present — a missing (null) field passes everything except
    ``required``.  ``bsonType`` answers from runtime ``typeof()`` (folds
    to a constant under Catalyst when the column type is static).
    Unsupported keywords raise, fail-loud like the rest of the compiler.
    """
    supported_top = {"bsonType", "type", "required", "properties",
                     "additionalProperties"}
    unknown = set(schema) - supported_top
    if unknown:
        raise ValueError(f"unsupported $jsonSchema keywords {sorted(unknown)}")
    conds: list[Column] = []
    for req in schema.get("required", []):
        conds.append(F.col(req).isNotNull())
    for fname, rules in (schema.get("properties") or {}).items():
        col = F.col(fname)
        sub: list[Column] = []
        supported = {"bsonType", "type", "enum", "pattern", "minimum",
                     "maximum", "minLength", "maxLength", "minItems",
                     "maxItems", "description"}
        bad = set(rules) - supported
        if bad:
            raise ValueError(
                f"unsupported $jsonSchema property keywords {sorted(bad)}"
                f" for {fname!r}")
        btype = rules.get("bsonType", rules.get("type"))
        if btype is not None:
            btypes = btype if isinstance(btype, list) else [btype]
            t = F.call_function("typeof", col)
            checks = []
            for b in btypes:
                if b not in _BSON_TYPE_CHECKS:
                    raise ValueError(f"unsupported bsonType {b!r}")
                checks.append(_BSON_TYPE_CHECKS[b](t))
            sub.append(_fold_or(checks))
        if "enum" in rules:
            sub.append(col.isin(*rules["enum"]))
        if "pattern" in rules:
            sub.append(col.rlike(rules["pattern"]))
        if "minimum" in rules:
            sub.append(col >= F.lit(rules["minimum"]))
        if "maximum" in rules:
            sub.append(col <= F.lit(rules["maximum"]))
        if "minLength" in rules:
            sub.append(F.length(col) >= F.lit(rules["minLength"]))
        if "maxLength" in rules:
            sub.append(F.length(col) <= F.lit(rules["maxLength"]))
        if "minItems" in rules:
            sub.append(F.size(col) >= F.lit(rules["minItems"]))
        if "maxItems" in rules:
            sub.append(F.size(col) <= F.lit(rules["maxItems"]))
        if sub:
            conds.append(F.when(col.isNull(), F.lit(True))
                         .otherwise(_fold_and(sub)))
    return _fold_and(conds) if conds else F.lit(True)


def _fold_and(cols: list[Column]) -> Column:
    out = cols[0]
    for c in cols[1:]:
        out = out & c
    return out


def _fold_or(cols: list[Column]) -> Column:
    out = cols[0]
    for c in cols[1:]:
        out = out | c
    return out


def _geo_within(col: Column, spec) -> Column:
    """``$geoWithin`` with legacy planar (2d) shapes: ``$box``,
    ``$center``, ``$polygon`` — the query-language side of the planar
    geometry $geoNear already speaks.  The field is an ``array<double>``
    [x, y] pair; every shape compiles to a per-row arithmetic predicate
    (pushdown-eligible, zero shuffles).

    $polygon is even-odd ray casting unrolled over the literal vertex
    list — one (xor-folded) edge test per vertex, exact IEEE arithmetic,
    boundary behavior follows the strict/non-strict inequalities of the
    classic crossing test.  ``$centerSphere`` compiles to the
    deterministic-polynomial haversine kernel (plans/trig.py): h <=
    sin^2(r/2) with the threshold a single driver-computed literal — no
    asin needed because the kernel is monotone in distance.  GeoJSON
    ``$geometry`` Polygon/MultiPolygon compiles to the spherical
    even-odd meridian-ray predicate (plans/trig.py
    sphere_polygon_pred_col): per-edge great-circle normals are
    driver-side literals, the point pays four fixed polynomials once,
    and parity folds over every ring — so holes and MultiPolygon parts
    come free.  Convention: the north pole is exterior (matches
    MongoDB's smaller-region rule whenever that region excludes the
    north pole; an equatorial ring selects the southern cap).

    Reference analog: Mongo 2.x-era query documents passed through
    ``mongo.input.query`` (core/.../util/MongoConfigUtil.java:674-702)
    could carry any server query operator, $geoWithin included; here the
    operator executes engine-side.
    """
    if not isinstance(spec, dict) or len(spec) != 1:
        raise ValueError("$geoWithin takes exactly one shape "
                         "($box/$center/$polygon)")
    (shape, arg), = spec.items()
    # getItem, not element_at: GetArrayItem(CreateArray(..)) is
    # optimizer-simplified to the bare element expression, ElementAt
    # is not — with the polynomial spherical kernel referencing the
    # coordinates many times, the unsimplified form re-inlines the
    # array build per reference and blows Janino's 64 KB method cap
    x, y = col.getItem(0), col.getItem(1)
    if shape == "$box":
        (x1, y1), (x2, y2) = arg
        lox, hix = min(x1, x2), max(x1, x2)
        loy, hiy = min(y1, y2), max(y1, y2)
        return ((x >= F.lit(float(lox))) & (x <= F.lit(float(hix)))
                & (y >= F.lit(float(loy))) & (y <= F.lit(float(hiy))))
    if shape == "$center":
        (cx, cy), r = arg
        dx, dy = x - F.lit(float(cx)), y - F.lit(float(cy))
        return dx * dx + dy * dy <= F.lit(float(r)) * F.lit(float(r))
    if shape == "$polygon":
        verts = [(float(px), float(py)) for px, py in arg]
        if len(verts) < 3:
            raise ValueError("$polygon needs at least 3 vertices")
        inside = None
        for (xi, yi), (xj, yj) in zip(verts, verts[-1:] + verts[:-1]):
            if yj == yi:
                continue   # horizontal edge never straddles; avoids /0
            straddles = (F.lit(yi) > y) != (F.lit(yj) > y)
            crossing = x < (F.lit(xj - xi) * (y - F.lit(yi))
                            / F.lit(yj - yi) + F.lit(xi))
            edge = straddles & crossing
            inside = edge if inside is None else inside != edge
        return F.lit(False) if inside is None else inside
    if shape == "$centerSphere":
        from mongo_hadoop_spark.plans.trig import (
            center_sphere_threshold, haversine_h_col)
        (cx, cy), r = arg
        h = haversine_h_col(x, y, F.lit(float(cx)), F.lit(float(cy)))
        return h <= F.lit(center_sphere_threshold(float(r)))
    if shape == "$geometry":
        from mongo_hadoop_spark.plans.trig import sphere_polygon_pred_col
        if not isinstance(arg, dict):
            raise ValueError("$geometry takes a GeoJSON object")
        gtype = arg.get("type")
        coords = arg.get("coordinates")
        if coords is None:
            raise ValueError("$geometry needs a coordinates member")
        if gtype == "Polygon":
            rings = coords
        elif gtype == "MultiPolygon":
            rings = [r for poly in coords for r in poly]
        else:
            raise ValueError(f"$geoWithin $geometry supports Polygon/"
                             f"MultiPolygon, not {gtype!r}")
        return sphere_polygon_pred_col(x, y, rings)
    raise ValueError(f"unsupported $geoWithin shape {shape!r} "
                     "($box/$center/$polygon/$centerSphere/$geometry "
                     "only)")


def trig_mod():
    """Lazy import of plans.trig (same pattern as the inline imports —
    trig is only needed by spherical-geometry operators)."""
    from mongo_hadoop_spark.plans import trig
    return trig


def _geo_intersects_rings(spec) -> list:
    """Validate a $geoIntersects spec and return the flattened GeoJSON
    ring list — shared by the Column and one-string SQL renderings."""
    if not (isinstance(spec, dict) and set(spec) == {"$geometry"}):
        raise ValueError("$geoIntersects takes {$geometry: <GeoJSON "
                         "Polygon/MultiPolygon>}")
    geom = spec["$geometry"]
    if not isinstance(geom, dict) or "coordinates" not in geom:
        raise ValueError("$geometry needs type and coordinates members")
    gtype, coords = geom.get("type"), geom["coordinates"]
    if gtype == "Polygon":
        return coords
    if gtype == "MultiPolygon":
        return [r for poly in coords for r in poly]
    raise ValueError(f"$geoIntersects $geometry supports Polygon/"
                     f"MultiPolygon, not {gtype!r}")


def _geo_intersects(col: Column, spec) -> Column:
    """``$geoIntersects`` with a GeoJSON ``$geometry`` Polygon /
    MultiPolygon query shape, spherical semantics.

    The stored field is a flat legacy-coordinate double array and its
    LENGTH picks the stored geometry, row by row:

    - ``[lon, lat]`` (a point): intersects iff inside-or-on the region
      — the same even-odd spherical parity predicate as $geoWithin
      $geometry (plans/trig.py sphere_polygon_pred_col).  For point
      data the two operators differ only on the boundary, which the
      strict-inequality parity test decides deterministically.
    - ``[lonA, latA, lonB, latB]`` (a geodesic segment — a 2-point
      LineString in legacy coordinates): intersects iff an endpoint is
      inside OR the minor arc crosses a boundary edge (the
      four-determinant same-sign crossing test,
      trig.sphere_segment_intersects_col) — so a segment that merely
      passes THROUGH the region with both endpoints outside still
      matches, which is exactly what $geoWithin cannot express.

    Longer LineStrings decompose into per-leg ORs caller-side; stored
    Polygon fields are not supported (no polygon-valued columns exist
    in this engine's data model).  CASE dispatch is lazy, so a
    homogeneous point column never evaluates the segment machinery.

    Reference analog: like $geoWithin, the reference could only pass
    $geoIntersects through to the server inside ``mongo.input.query``
    (core/.../util/MongoConfigUtil.java:674-702); here the predicate
    executes engine-side.
    """
    from mongo_hadoop_spark.plans.trig import (
        sphere_polygon_pred_col, sphere_segment_intersects_col)
    rings = _geo_intersects_rings(spec)
    # see _geo_within for the getItem-over-element_at rationale
    point = sphere_polygon_pred_col(col.getItem(0), col.getItem(1), rings)
    segment = sphere_segment_intersects_col(
        col.getItem(0), col.getItem(1), col.getItem(2), col.getItem(3),
        rings)
    return F.when(F.size(col) >= F.lit(4), segment).otherwise(point)


def _elem_match(col: Column, crit) -> Column:
    """Match-side ``$elemMatch``: true when at least one array element
    satisfies ALL criteria.  Scalar-element form ({$gte: 10, $lt: 20})
    applies the operators to the element itself; document form
    ({a: 1, b: {$gt: 2}}) applies field criteria to struct elements.
    Compiles to ``exists(col, λ)`` — a per-row higher-order predicate,
    no explode, no shuffle."""
    if not isinstance(crit, dict) or not crit:
        raise ValueError("$elemMatch takes a non-empty criteria document")
    scalar_form = all(k.startswith("$") for k in crit)

    def pred(e):
        conds = []
        if scalar_form:
            for o, v in crit.items():
                conds.append(_match_op_col(e, o, v))
        else:
            for fname, fcond in crit.items():
                if fname.startswith("$"):
                    raise ValueError(
                        "$elemMatch cannot mix element operators with "
                        "field criteria")
                sub = e[fname]
                if isinstance(fcond, dict) and fcond and \
                        all(k.startswith("$") for k in fcond):
                    for o, v in fcond.items():
                        conds.append(_match_op_col(sub, o, v))
                elif fcond is None:
                    conds.append(sub.isNull())
                else:
                    conds.append(sub == F.lit(fcond))
        return _fold_and(conds)

    return F.exists(col, pred)


def _match_op_col(col: Column, op: str, operand) -> Column:
    if op == "$eq":
        return col.isNull() if operand is None else col == F.lit(operand)
    if op == "$ne":
        # server semantics: matches docs where the field is null/missing
        if operand is None:
            return col.isNotNull()
        return (col != F.lit(operand)) | col.isNull()
    if op == "$gt":
        return col > F.lit(operand)
    if op == "$gte":
        return col >= F.lit(operand)
    if op == "$lt":
        return col < F.lit(operand)
    if op == "$lte":
        return col <= F.lit(operand)
    if op == "$in":
        vals = [v for v in operand if v is not None]
        out = col.isin(vals) if vals else F.lit(False)
        if None in operand:
            out = out | col.isNull()
        return out
    if op == "$nin":
        vals = [v for v in operand if v is not None]
        out = ~col.isin(vals) if vals else F.lit(True)
        if None in operand:
            return out & col.isNotNull()
        return out | col.isNull()
    if op == "$regex":
        return col.rlike(operand.pattern if hasattr(operand, "pattern") else str(operand))
    if op == "$geoWithin":
        return _geo_within(col, operand)
    if op == "$all":
        # array field contains every listed value; {$all: []} matches
        # NO documents (server semantics)
        out = None
        for v in operand:
            c = F.array_contains(col, F.lit(v))
            out = c if out is None else out & c
        return F.lit(False) if out is None else out
    if op == "$size":
        return F.size(col) == F.lit(int(operand))
    if op == "$mod":
        d, r = operand
        # truncated remainder in Mongo, Spark and DuckDB alike
        return col % F.lit(d) == F.lit(r)
    if op == "$elemMatch":
        return _elem_match(col, operand)
    if op in ("$bitsAllSet", "$bitsAnySet", "$bitsAllClear", "$bitsAnyClear"):
        mask = sum(1 << int(b) for b in operand) \
            if isinstance(operand, list) else int(operand)
        anded = col.bitwiseAND(F.lit(mask))
        if op == "$bitsAllSet":
            return anded == F.lit(mask)
        if op == "$bitsAnySet":
            return anded != F.lit(0)
        if op == "$bitsAllClear":
            return anded == F.lit(0)
        return anded != F.lit(mask)   # $bitsAnyClear
    if op == "$type":
        aliases = operand if isinstance(operand, list) else [operand]
        # numeric BSON type codes → string aliases
        codes = {1: "double", 2: "string", 3: "object", 4: "array",
                 5: "binData", 8: "bool", 9: "date", 10: "null",
                 16: "int", 18: "long", 19: "decimal"}
        t = F.call_function("typeof", col)
        checks = []
        null_check = None
        for a in aliases:
            a = codes.get(a, a) if isinstance(a, int) else a
            if a == "null":
                # BSON null (code 10): matches a null-VALUED field —
                # r11; previously unexpressible (the isNotNull guard
                # below exists so a null value matches no OTHER alias)
                null_check = col.isNull()
                continue
            if a not in _BSON_TYPE_CHECKS:
                raise ValueError(f"unsupported $type alias {a!r}")
            checks.append(_BSON_TYPE_CHECKS[a](t))
        out = (col.isNotNull() & _fold_or(checks)) if checks else F.lit(False)
        return (out | null_check) if null_check is not None else out
    if op == "$exists":
        # flat-column approximation: present ⇔ not null
        return col.isNotNull() if operand else col.isNull()
    if op == "$not":
        # same three-valued-logic collapse as $nor: non-match (incl. null
        # comparisons) negates to TRUE.  The find-language {$regex,
        # $options} pair is legal inside $not too (r12 — previously
        # refused because the fold only ran at the op-doc top level).
        operand = _fold_find_options(operand)
        return ~F.coalesce(
            _fold_and([_match_op_col(col, o, v) for o, v in operand.items()]),
            F.lit(False))
    if op in ("$near", "$nearSphere"):
        # sorting find operators have no predicate semantics; the server
        # itself requires $geoNear in aggregation contexts
        raise ValueError(
            f"{op} sorts by distance and cannot run as a match predicate"
            " — use the $geoNear pipeline stage (spherical supported),"
            " or $geoWithin $centerSphere for a pure radius filter")
    if op == "$text":
        raise ValueError(
            "$text applies to the whole document, not a field — put "
            "{$text: {$search: ..., path: <text field>}} at the top "
            "level of the first $match stage (engine bridge; "
            "raw-tf scoring, no stemming), or use the $search stage "
            "(text/phrase/compound, optional BM25 scoring)")
    if op == "$geoIntersects":
        return _geo_intersects(col, operand)
    raise ValueError(f"unsupported query operator {op}")


# ---------------------------------------------------------------------------
# Accumulators
# ---------------------------------------------------------------------------


def _accumulator(name: str, acc: dict) -> Column:
    (op, operand), = acc.items()
    _check_expr_keys(op, operand)   # $firstN/$topN/$percentile arg specs
    if op == "$count":
        return F.count(F.lit(1)).alias(name)
    if op == "$sum":
        # a group with NO numeric inputs sums to 0 on the server, never
        # null (r11 — Spark's SUM over all-null is null); no gated query
        # has such a group (their oracles' SUM() is null too, so a live
        # one would already hash-mismatch), so this is deviation-closing
        return F.coalesce(F.sum(expr_to_col(operand)), F.lit(0)).alias(name)
    if op == "$avg":
        return F.avg(expr_to_col(operand)).alias(name)
    if op == "$min":
        return F.min(expr_to_col(operand)).alias(name)
    if op == "$max":
        return F.max(expr_to_col(operand)).alias(name)
    if op == "$push":
        # struct-wrap preserves NULL inputs (r11): the server pushes
        # nulls into the array; bare collect_list silently drops them
        wrapped = F.collect_list(F.struct(expr_to_col(operand).alias("v")))
        return F.transform(wrapped, lambda s: s["v"]).alias(name)
    if op == "$addToSet":
        return _add_to_set(operand).alias(name)
    if op == "$first":
        return F.first(expr_to_col(operand)).alias(name)
    if op == "$last":
        return F.last(expr_to_col(operand)).alias(name)
    if op == "$stdDevPop":
        return F.stddev_pop(expr_to_col(operand)).alias(name)
    if op == "$stdDevSamp":
        return F.stddev_samp(expr_to_col(operand)).alias(name)
    if op in ("$top", "$bottom", "$topN", "$bottomN"):
        return _ranked_accumulator(name, op, operand)
    if op in ("$median", "$percentile"):
        return _percentile_accumulator(name, op, operand)
    if op in ("$minN", "$maxN", "$firstN", "$lastN"):
        return _n_accumulator(op, operand).alias(name)
    if op == "$mergeObjects":
        return _merge_objects_acc(operand).alias(name)
    raise ValueError(f"unsupported accumulator {op}")


def _merge_objects_acc(operand) -> Column:
    """$mergeObjects as a $group accumulator: combine the group's
    MAP-typed documents in encounter order, later documents overwriting
    earlier keys; null operands are ignored (all-null → {}), matching
    the expression form at :data:`aggpipe` line ~465.

    Shape: collect_list (skips nulls = server ignores null operands),
    then one linear fold — each merge step filters the accumulator's
    entries against the incoming map's keys (map_contains_key) and
    concatenates, so a step is O(|acc| + |doc|) and the group totals
    O(docs × distinct keys), never O(entries²).  The fold's zero is the
    FIRST collected map (coalesced to an empty map of the right type
    when the group collected nothing); merging a map into itself is
    idempotent under later-wins, so seeding with element 1 and folding
    the whole list is exact.

    Encounter order is shuffle-dependent unless the pipeline sorted
    first — the same contract as $first/$push (and the server's).  For
    deterministic results, merge documents whose keys are DISTINCT
    within the group (the canonical two-level-group idiom in the
    server docs)."""
    coll = F.collect_list(expr_to_col(operand))
    zero = F.map_from_entries(
        F.coalesce(F.map_entries(F.get(coll, F.lit(0))), F.array()))

    def merge(acc, m):
        kept = F.filter(F.map_entries(acc),
                        lambda e: ~F.map_contains_key(m, e["key"]))
        return F.map_from_entries(F.concat(kept, F.map_entries(m)))

    return F.aggregate(coll, zero, merge)


def _add_to_set(operand, over=None) -> Column:
    """$addToSet core, group and window forms.

    Canonical order (Mongo sets are unordered; sorting makes the result
    reproducible across shuffle schedules).  A NULL member is preserved
    (r11 — the server's set keeps one) by a null FLAG appended after the
    hash-deduped collect_set, NOT by array_distinct over collect_list:
    distinct-over-list is O(group²) per group and measured 13x on a
    large-group gate — collect_set keeps the linear hash-dedup path.
    """
    c = expr_to_col(operand)
    vals, total, nn = F.collect_set(c), F.count(F.lit(1)), F.count(c)
    if over is not None:
        vals, total, nn = vals.over(over), total.over(over), nn.over(over)
    vals = F.array_sort(vals)
    return F.when(total > nn,
                  F.concat(vals, F.array(F.lit(None)))).otherwise(vals)


def _n_accumulator(op: str, operand: dict, over=None) -> Column:
    """$minN/$maxN/$firstN/$lastN core, group and window forms
    (Mongo 5.2).

    $minN/$maxN: n smallest/largest input values, smallest-first (resp.
    largest-first); nulls are not candidates (collect_list skips them).
    $firstN/$lastN: first/last n in encounter/frame order — like
    $first/$last, group encounter order is shuffle-dependent unless the
    pipeline sorted first (the server's contract is the same); the
    struct-wrap keeps NULL inputs (r11): the server INCLUDES null and
    missing values in $firstN/$lastN (unlike $minN/$maxN).
    """
    n = int(operand["n"])
    if op in ("$minN", "$maxN"):
        coll = F.collect_list(expr_to_col(operand["input"]))
        if over is not None:
            coll = coll.over(over)
        return F.slice(F.sort_array(coll, asc=(op == "$minN")), 1, n)
    wrapped = F.collect_list(
        F.struct(expr_to_col(operand["input"]).alias("v")))
    if over is not None:
        wrapped = wrapped.over(over)
    arr = F.transform(wrapped, lambda s: s["v"])
    if op == "$firstN":
        return F.slice(arr, 1, n)
    return F.reverse(F.slice(F.reverse(arr), 1, n))


def _ranked_accumulator(name: str, op: str, operand: dict) -> Column:
    """$top/$bottom/$topN/$bottomN (Mongo 5.2, group-top-N accumulators).

    Compiled as one sorted struct array per group: collect (sortBy keys,
    output), array_sort, slice from the front ($top*) or back ($bottom*),
    then project the output field.  Descending sort keys are negated, so
    they must be numeric — non-numeric descending keys raise at plan time
    in Spark (fail-loud, matching the $sortArray convention).  State per
    group is the collected array; Mongo holds the same O(group) state for
    these accumulators, and Spark's objHashAggregate spills it.
    """
    return _ranked_pick(op, operand).alias(name)


def _ranked_pick(op: str, operand: dict, over=None) -> Column:
    """Shared core of the $top/$bottom(N) group accumulators and their
    $setWindowFields window forms (r12): one sorted struct array per
    group/frame, sliced from the requested end.  ``over`` frames the
    collect when compiling the window form."""
    out_expr = expr_to_col(operand["output"])
    sort_by = operand["sortBy"]
    n = operand.get("n", 1)
    keys = []
    for i, (fld, direction) in enumerate(sort_by.items()):
        c = expr_to_col(f"${fld}")
        if direction == -1:
            # BSON order puts null SMALLEST, so a DESCENDING key ranks
            # nulls LAST — but array_sort ranks a null struct field
            # first, and -null is null, so the bare negation trick put
            # them FIRST (r12 parity fix): a null-last marker key
            # restores the server order
            keys.append(F.when(c.isNull(), F.lit(1)).otherwise(F.lit(0))
                        .alias(f"k{i}n"))
            c = -c
        elif direction != 1:
            raise ValueError(f"{op}: sortBy direction must be 1 or -1")
        keys.append(c.alias(f"k{i}"))
    coll = F.collect_list(F.struct(*keys, out_expr.alias("v")))
    if over is not None:
        coll = coll.over(over)
    arr = F.array_sort(coll)
    if op == "$top":
        return F.element_at(arr, 1)["v"]
    if op == "$bottom":
        return F.element_at(arr, -1)["v"]
    if op == "$topN":
        picked = F.slice(arr, 1, n)
    else:  # $bottomN — clamp the negative start so n > group size works
        picked = F.slice(arr, -F.least(F.lit(n), F.size(arr)), n)
    return F.transform(picked, lambda s: s["v"])


def _percentile_accumulator(name: str, op: str, operand: dict) -> Column:
    """$median/$percentile (Mongo 7.0) with *discrete* (exact) semantics:
    the value at index ceil(p·n) of the sorted inputs (1-based), i.e. the
    smallest input with cumulative proportion ≥ p.  Mongo ships
    method='approximate' (t-digest); the discrete definition is the
    deterministic, cross-engine-checkable superset (the operand's
    ``method`` is accepted and ignored).  Nulls are excluded like Mongo.

    Scale: the exact form collects every group value into one sorted
    array — O(group)-memory final state.  The production mode
    (``_APPROX_PCTL`` set — see the module-level note) compiles to
    ``approx_percentile`` instead: a mergeable GK summary with bounded
    state, matching the server's own sketch trade and rank-exact while
    ε·N < 1/2.
    """
    inp = expr_to_col(operand["input"])
    acc = _APPROX_PCTL.get()
    if op != "$median":
        ps = operand["p"]
        if not isinstance(ps, list) or not ps:
            raise ValueError("$percentile: p must be a non-empty list")
    if acc is not None:
        if op == "$median":
            return F.percentile_approx(inp, 0.5, F.lit(acc)).alias(name)
        return F.percentile_approx(
            inp, F.array(*[F.lit(float(p)) for p in ps]),
            F.lit(acc)).alias(name)
    arr = F.array_sort(F.collect_list(inp))  # collect_list drops nulls
    sz = F.size(arr)

    def pick(p: float) -> Column:
        idx = F.greatest(F.ceil(sz.cast("double") * F.lit(float(p))), F.lit(1))
        return F.element_at(arr, idx.cast("int"))

    if op == "$median":
        return pick(0.5).alias(name)
    return F.array(*[pick(p) for p in ps]).alias(name)


# ---------------------------------------------------------------------------
# Stages
# ---------------------------------------------------------------------------


def _stage_group(df: DataFrame, spec: dict) -> DataFrame:
    spec = dict(spec)
    id_expr = spec.pop("_id")
    aggs = [_accumulator(n, a) for n, a in spec.items()]
    names = list(spec)
    if id_expr is None:
        out = df.groupBy().agg(*aggs) if aggs else df.limit(1).select()
        return out.select(F.lit(None).alias("_id"), *names)
    if isinstance(id_expr, dict) and not any(k.startswith("$") for k in id_expr):
        # compound key → struct _id
        keys = [expr_to_col(v).alias(f"__gk_{k}") for k, v in id_expr.items()]
        out = df.groupBy(*keys).agg(*aggs)
        id_struct = F.struct(
            *[F.col(f"__gk_{k}").alias(k) for k in id_expr]).alias("_id")
        return out.select(id_struct, *names)
    out = df.groupBy(expr_to_col(id_expr).alias("_id")).agg(*aggs)
    return out.select("_id", *names)


def _project_expr(df: DataFrame, v) -> Column:
    """Compile a $project/$addFields value, schema-aware where it pays.

    ``{"$toDouble": "$f"}`` on a DECIMAL column compiles to the
    bit-deterministic split conversion
    (:func:`mongo_hadoop_spark.functions.dec_to_double`) instead of a
    plain cast: engines disagree by 1 ulp on decimal→double once the
    unscaled value exceeds 2^53 (DuckDB divides the int128 by 10^scale —
    two roundings — where Spark rounds once), which bites exactly the
    `$toDecimal → $sum → $toDouble` money-pipeline idiom at scale.  Only
    the schema-resolvable top-level form gets the treatment; nested
    $toDouble falls back to the plain cast (type unknown at compile
    time).
    """
    if isinstance(v, dict) and len(v) == 1 and "$toDouble" in v:
        op = v["$toDouble"]
        if isinstance(op, str) and op.startswith("$"):
            name = op[1:]
            if "." not in name and name in df.columns:
                from pyspark.sql.types import DecimalType

                from mongo_hadoop_spark.functions import dec_to_double
                if isinstance(df.schema[name].dataType, DecimalType):
                    return dec_to_double(F.col(name))
    if isinstance(v, dict) and len(v) == 1 and "$toString" in v:
        # server $toString renders a BSON date as ISO-8601 UTC
        # ("2024-01-01T10:20:30.000Z"); a plain string cast renders the
        # session-TZ wall clock without the T/Z shape (r11).  Schema-
        # aware like $toDouble: only the resolvable top-level form;
        # nested/lambda occurrences keep the documented cast deviation.
        op = v["$toString"]
        if isinstance(op, str) and op.startswith("$"):
            name = op[1:]
            if "." not in name and name in df.columns:
                from pyspark.sql.types import TimestampType

                if isinstance(df.schema[name].dataType, TimestampType):
                    ntz_utc = F.convert_timezone(
                        F.current_timezone(), F.lit("UTC"),
                        F.col(name).cast("timestamp_ntz"))
                    return F.concat(
                        F.date_format(ntz_utc, "yyyy-MM-dd'T'HH:mm:ss.SSS"),
                        F.lit("Z"))
    if isinstance(v, dict) and len(v) == 1 and \
            next(iter(v)) in ("$sum", "$avg", "$min", "$max"):
        # scalar FIELD-PATH pass-through (r10, per ADVICE; $min/$max
        # r11): in expression context the server passes a scalar-typed
        # operand through ({$sum: "$price"} on a numeric scalar is
        # $price; null/missing → 0 for $sum, null for $avg/$min/$max;
        # non-numeric scalars are ignored by $sum/$avg → 0 / null, but
        # $min/$max compare ANY scalar type and pass it through).  Only
        # the schema-resolvable top-level form is dispatched here;
        # array-typed fields fall through to the per-row fold in
        # ``_expr_op``, and NESTED occurrences (type unknown at compile
        # time) still assume an array operand.
        agg_op, op_v = next(iter(v.items()))
        if isinstance(op_v, str) and op_v.startswith("$"):
            name = op_v[1:]
            if "." not in name and name in df.columns:
                from pyspark.sql.types import (ArrayType, DecimalType,
                                               NumericType)

                from mongo_hadoop_spark.functions import dec_to_double

                dt = df.schema[name].dataType
                if not isinstance(dt, ArrayType):
                    c = F.col(name)
                    # decimals normalize to double like the bare
                    # field-path branch above (r11, per ADVICE)
                    if isinstance(dt, DecimalType):
                        c = dec_to_double(c)
                    if agg_op in ("$min", "$max"):
                        return c
                    if isinstance(dt, NumericType):
                        return (F.coalesce(c, F.lit(0))
                                if agg_op == "$sum" else c)
                    return (F.lit(0) if agg_op == "$sum"
                            else F.lit(None))
    return expr_to_col(v)


def _write_dotted(base: Column | None, base_type, segs: list[str],
                  val: Column, path: str) -> Column:
    """``val`` written at the nested path ``segs`` below ``base`` (an
    existing struct Column, or None when the root is being created) —
    the server's dotted-path WRITE: intermediate documents are created
    when missing and sibling fields are preserved when present.

    r12: dotted keys in $addFields/$set/$project previously compiled to
    a FLAT column literally named "a.b" — the dangerous silent kind
    (the write succeeded, and the later nested read "$a.b" failed or
    missed it).  Descending through an existing NON-document value
    refuses loudly (the server's array-traversal semantics for dotted
    writes over arrays are out of scope — named limitation)."""
    from pyspark.sql.types import StructType
    if not segs:
        return val
    head, rest = segs[0], segs[1:]
    if base is None:
        inner = _write_dotted(None, None, rest, val, path)
        return F.struct(inner.alias(head))
    if not isinstance(base_type, StructType):
        raise ValueError(
            f"dotted-path write {path!r}: intermediate value is "
            f"{base_type.simpleString() if base_type is not None else 'missing'},"
            " not a document (array-traversal writes are not supported"
            " — unwind first)")
    names = [f.name for f in base_type.fields]
    if head in names:
        sub_t = base_type[head].dataType
        if rest:
            if not isinstance(sub_t, StructType):
                # review fix (r12): descending through an existing
                # non-document value at ANY depth refuses — the first
                # draft silently replaced it at depth >= 2
                raise ValueError(
                    f"dotted-path write {path!r}: intermediate field "
                    f"{head!r} is {sub_t.simpleString()}, not a "
                    "document (array-traversal writes are not "
                    "supported — unwind first)")
            inner = _write_dotted(base[head], sub_t, rest, val, path)
        else:
            inner = val
        return base.withField(head, inner)
    inner = _write_dotted(None, None, rest, val, path)
    return base.withField(head, inner)


def _nested_tree_insert(tree: dict, segs: list[str], col: Column, path: str):
    node = tree
    for s in segs[:-1]:
        nxt = node.setdefault(s, {})
        if not isinstance(nxt, dict):
            raise ValueError(
                f"$project: specification contains two conflicting "
                f"paths at {path!r} (server rule)")
        node = nxt
    if segs[-1] in node:
        raise ValueError(
            f"$project: specification contains two conflicting paths "
            f"at {path!r} (server rule)")
    node[segs[-1]] = col


def _nested_tree_build(tree: dict) -> Column:
    return F.struct(*[
        (_nested_tree_build(v) if isinstance(v, dict) else v).alias(k)
        for k, v in tree.items()])


def _stage_project(df: DataFrame, spec: dict) -> DataFrame:
    plain = {k: v for k, v in spec.items() if isinstance(v, (int, bool))}
    computed = {k: v for k, v in spec.items() if k not in plain}
    excludes = [k for k, v in plain.items() if not v]
    includes = [k for k, v in plain.items() if v]
    if excludes and includes:
        raise ValueError("cannot mix include and exclude in $project")
    if excludes:
        out = df.drop(*[c for c in excludes if c in df.columns
                        and "." not in c])
        out = _drop_dotted(out, [c for c in excludes if "." in c])
        for k, v in computed.items():
            if "." in k:
                out = _add_field_dotted(out, k, _project_expr(out, v))
            else:
                out = out.withColumn(k, _project_expr(out, v))
        return out
    # inclusion / computed: dotted keys assemble nested documents —
    # {"s.x": 1, "s.z": expr} → one struct column s{x, z} (r12;
    # previously a FLAT column named "s.x").  Spec order is the output
    # field order (documented deviation: the server re-orders included
    # fields to document order).
    tree: dict = {}
    for k in includes:
        _nested_tree_insert(tree, k.split("."), F.col(k), k)
    for k, v in computed.items():
        _nested_tree_insert(tree, k.split("."), _project_expr(df, v), k)
    cols = [(_nested_tree_build(v) if isinstance(v, dict) else v).alias(k)
            for k, v in tree.items()]
    return df.select(*cols)


def _add_field_dotted(df: DataFrame, key: str, val: Column) -> DataFrame:
    """One dotted $addFields/$set write: rebuild the ROOT column with
    ``val`` at the nested path, creating intermediates and preserving
    siblings (shared `_write_dotted` core).  A MAP-typed root — the
    engine's dynamic-document convention — takes single-level key
    writes (later-wins, like the $mergeObjects fold); deeper paths
    under a map refuse (the map's value type cannot hold a document of
    a different shape)."""
    from pyspark.sql.types import MapType, StructType
    segs = key.split(".")
    root = segs[0]
    if root in df.columns:
        rt = df.schema[root].dataType
        if isinstance(rt, MapType):
            if len(segs) != 2:
                raise ValueError(
                    f"dotted-path write {key!r}: only single-level "
                    f"writes into the MAP-typed document {root!r} are "
                    "supported")
            k = segs[1]
            kept = F.map_filter(F.col(root), lambda mk, _: mk != F.lit(k))
            merged = F.map_concat(kept, F.create_map(F.lit(k), val))
            # a null map stays writable: start from an empty map
            return df.withColumn(root, F.coalesce(
                merged, F.map_concat(F.create_map(F.lit(k), val))))
        if not isinstance(rt, StructType):
            raise ValueError(
                f"dotted-path write {key!r}: existing field {root!r} is "
                f"{rt.simpleString()}, not a document")
        return df.withColumn(root, _write_dotted(F.col(root), rt,
                                                 segs[1:], val, key))
    return df.withColumn(root, _write_dotted(None, None, segs[1:],
                                             val, key))


def _drop_dotted(df: DataFrame, keys: list[str]) -> DataFrame:
    """Dotted $unset / $project-exclusion: rebuild each root with
    ``dropFields`` (nested names supported), server-style no-op when
    the root column does not exist."""
    from pyspark.sql.types import StructType
    by_root: dict[str, list[str]] = {}
    for k in keys:
        root, rest = k.split(".", 1)
        by_root.setdefault(root, []).append(rest)
    from pyspark.sql.types import MapType
    out = df
    for root, rests in by_root.items():
        if root not in out.columns:
            continue
        rt = out.schema[root].dataType
        if isinstance(rt, MapType):
            # MAP-typed dynamic document: remove the keys (an empty
            # map IS expressible, unlike an empty struct)
            keys = [r for r in rests if "." not in r]
            deeper = [r for r in rests if "." in r]
            if deeper:
                raise ValueError(
                    f"dotted-path unset under the MAP-typed document "
                    f"{root!r}: only single-level keys are supported "
                    f"(got {deeper[0]!r})")
            lits = [F.lit(k) for k in keys]
            out = out.withColumn(root, F.map_filter(
                F.col(root),
                lambda mk, _: ~_fold_or([mk == x for x in lits])))
            continue
        if not isinstance(rt, StructType):
            # server parity (review fix, r12): unsetting a path through
            # a non-document value removes nothing — a NO-OP, not an
            # error (the first draft raised here)
            continue
        # server no-op on nonexistent leaves: filter to present paths
        def _exists(t, segs):
            for s in segs:
                if not isinstance(t, StructType) or \
                        s not in [f.name for f in t.fields]:
                    return False
                t = t[s].dataType
            return True
        present = [r for r in rests if _exists(rt, r.split("."))]
        if not present:
            continue
        # dropping EVERY field of the root would need an empty struct,
        # which Spark cannot express — refuse with the reason instead
        # of surfacing CANNOT_DROP_ALL_FIELDS (review fix, r12)
        top_dropped = {r.split(".")[0] for r in present if "." not in r}
        if top_dropped >= {f.name for f in rt.fields}:
            raise ValueError(
                f"unsetting every field of document {root!r} would "
                "leave an empty document, which this engine's struct "
                f"type cannot express — unset {root!r} itself instead")
        out = out.withColumn(root, F.col(root).dropFields(*present))
    return out


def _stage_unwind(df: DataFrame, spec) -> DataFrame:
    if isinstance(spec, str):
        path, preserve, index_name = spec, False, None
    else:
        _check_spec_keys("$unwind", spec,
                         {"path", "includeArrayIndex",
                          "preserveNullAndEmptyArrays"})
        path = spec["path"]
        preserve = bool(spec.get("preserveNullAndEmptyArrays"))
        index_name = spec.get("includeArrayIndex")
        if index_name and "." in index_name:
            # nested index field (r12): same temp-name + dotted-write
            # route as $lookup "as" — previously a flat "i.x" column
            tmp = "__uw_idx_tmp"
            out = _stage_unwind(df, {**spec, "includeArrayIndex": tmp})
            return _add_field_dotted(out, index_name,
                                     F.col(tmp)).drop(tmp)
    field = path[1:]
    explode = F.explode_outer if preserve else F.explode
    if "." in field:
        # nested-path unwind (e.g. "a.b.c"): explode the leaf array into
        # a temp column, then write it back through the struct chain
        # with withField — per-row expressions, the explode is the only
        # plan change (no shuffle).  includeArrayIndex composes the
        # same way (the index lands at the TOP level, like the server).
        segs = field.split(".")
        root, rest = segs[0], segs[1:]

        def _rebuild(val: Column) -> Column:
            out = F.col(root)
            for i in range(len(rest) - 1, -1, -1):
                inner = F.col(".".join([root] + rest[:i]))
                out = inner.withField(rest[i], val)
                val = out
            return out

        if index_name:
            pos = (F.posexplode_outer(F.col(field)) if preserve
                   else F.posexplode(F.col(field)))
            tmp = df.select("*", pos.alias(index_name, "__uw_elem"))
            return (tmp.withColumn(root, _rebuild(F.col("__uw_elem")))
                    .drop("__uw_elem"))
        tmp = df.withColumn("__uw_elem", explode(F.col(field)))
        return (tmp.withColumn(root, _rebuild(F.col("__uw_elem")))
                .drop("__uw_elem"))
    if index_name:
        pos = F.posexplode_outer(F.col(field)) if preserve else F.posexplode(F.col(field))
        others = [c for c in df.columns if c != field]
        return df.select(*others, pos.alias(index_name, field))
    return df.withColumn(field, explode(F.col(field)))


#: $lookup foreign-side prefilter threshold: when the parent side is
#: known from the pipeline structure (a $limit upper bound survives to
#: the $lookup) to carry at most this many rows, the foreign side is
#: semi-joined to the broadcast parent keys BEFORE its per-key
#: collect_list — only matching groups build arrays.  At 100 TB this is
#: the difference between aggregating the whole foreign table and
#: aggregating the few groups a limited parent can reference.
_LOOKUP_PREFILTER_MAX = 100_000


def _stage_lookup(df: DataFrame, spec: dict,
                  tables: dict[str, DataFrame] | None,
                  parent_bound: int | None = None) -> DataFrame:
    _check_spec_keys("$lookup", spec,
                     {"from", "localField", "foreignField", "as", "let",
                      "pipeline"})
    if "." in spec["as"]:
        # nested "as" (r12): compute under a temp name, then write it
        # through the shared dotted-path core — previously the dotted
        # alias failed resolution (loud, but the server supports it)
        tmp = "__lk_as_tmp"
        out = _stage_lookup(df, {**spec, "as": tmp}, tables,
                            parent_bound=parent_bound)
        return _add_field_dotted(out, spec["as"], F.col(tmp)).drop(tmp)
    if not tables or spec["from"] not in tables:
        raise ValueError(
            f"$lookup from {spec['from']!r}: pass tables={{name: DataFrame}}")
    if "pipeline" in spec:
        return _stage_lookup_pipeline(df, spec, tables,
                                      parent_bound=parent_bound)
    foreign = tables[spec["from"]]
    lf, ff, as_ = spec["localField"], spec["foreignField"], spec["as"]
    if parent_bound is not None and parent_bound <= _LOOKUP_PREFILTER_MAX:
        # semantics-preserving: groups the semi join drops could only
        # feed unmatched agg rows the left join discards anyway (the
        # join condition is null-rejecting, so null-key rows never match)
        pkeys = df.select(F.col(lf).alias("__pf_key")).distinct()
        foreign = foreign.join(F.broadcast(pkeys),
                               F.col(ff) == F.col("__pf_key"), "left_semi")
    fstruct = F.struct(*[F.col(c) for c in foreign.columns])
    # pre-aggregate the foreign side per key: the join is then 1:1 and the
    # matched docs arrive as one array column, exactly the $lookup shape.
    # Catalyst broadcasts this side automatically when it is small.
    agg = foreign.groupBy(F.col(ff).alias("__lookup_key")).agg(
        F.collect_list(fstruct).alias(as_))
    out = df.join(agg, F.col(lf) == F.col("__lookup_key"), "left").drop("__lookup_key")
    arr_type = agg.schema[as_].dataType
    return out.withColumn(
        as_, F.coalesce(F.col(as_), F.array().cast(arr_type)))


_CMP_OPS = {"$eq": "==", "$ne": "!=", "$lt": "<", "$lte": "<=",
            "$gt": ">", "$gte": ">="}


def _flatten_expr_and(expr) -> list:
    """$and-tree of an $expr → flat list of comparison docs."""
    if isinstance(expr, dict) and "$and" in expr:
        out = []
        for e in expr["$and"]:
            out.extend(_flatten_expr_and(e))
        return out
    return [expr]


def _apply_cmp(op: str, a: Column, b: Column) -> Column:
    return {"$eq": a == b, "$ne": a != b, "$lt": a < b, "$lte": a <= b,
            "$gt": a > b, "$gte": a >= b}[op]


def _array_sort_comparator(sort_spec: dict):
    """Multi-key struct comparator for F.array_sort: -1/0/1 with nulls
    first ascending (server sort order for missing values)."""
    def cmp(lhs: Column, rhs: Column) -> Column:
        result = F.lit(0)
        for key, direction in reversed(list(sort_spec.items())):
            lv, rv = lhs[key], rhs[key]
            lo, hi = (F.lit(-1), F.lit(1)) if direction >= 0 \
                else (F.lit(1), F.lit(-1))
            result = (F.when(lv.isNull() & rv.isNull(), result)
                      .when(lv.isNull(), lo)
                      .when(rv.isNull(), hi)
                      .when(lv < rv, lo)
                      .when(lv > rv, hi)
                      .otherwise(result))
        return result
    return cmp


def _stage_lookup_pipeline(df: DataFrame, spec: dict,
                           tables: dict[str, DataFrame],
                           parent_bound: int | None = None) -> DataFrame:
    """``$lookup`` pipeline form (Mongo 3.6+): ``let`` binds local-doc
    expressions to ``$$variables``; the sub-pipeline runs against
    ``from`` per input document and the matches land in ``as``.

    Spark-first decorrelation — NEVER a per-document nested loop:

    - a leading ``$match``'s plain (non-$expr) predicates pre-filter the
      foreign scan (pushdown-eligible);
    - ``$expr`` decomposes over its $and-tree: every
      ``$eq[$foreign, <local>]`` becomes an EQUI-JOIN key — ``<local>``
      is a ``$$var`` or, r11, any COMPUTED expression over $$vars and
      literals (the foreign side pre-aggregates per key into one array
      column, so the join is 1:1 and Catalyst broadcasts it when
      small); every other comparison — correlated range predicates like
      ``$lte[$price, $$cap]`` or ``$lte[$price, {$multiply: [$$cap,
      2]}]``, foreign-field-to-foreign-field, foreign-to-literal, and
      binary ``$in`` membership (null-safe, r11) — becomes an
      ELEMENT-level ``F.filter`` lambda over the joined array
      (higher-order functions may reference outer columns, which is
      exactly what a correlated predicate is);
    - trailing ``$project`` / ``$sort`` / ``$limit`` sub-stages compile
      to ``transform`` / ``array_sort`` (multi-key comparator, nulls
      first) / ``slice`` on the array — per-document top-k with no extra
      shuffle.

    With no equi-key the whole (pre-filtered) foreign side collapses to
    a single-row array broadcast — the server's uncorrelated-subquery
    cache, acceptable only for small foreign sets (same contract).

    Determinism note: comparison semantics are SQL null-rejecting, not
    the server's total BSON order across types ($expr comparisons on
    mixed-type/missing fields deviate — documented).
    """
    foreign = tables[spec["from"]]
    as_ = spec["as"]
    let = spec.get("let") or {}
    local_vars = {name: expr_to_col(val) for name, val in let.items()}
    stages = list(spec["pipeline"])
    if ("localField" in spec) != ("foreignField" in spec):
        # review fix (r12): the uncorrelated branch below must never
        # swallow a half-specified concise join — a forgotten
        # localField would silently broadcast the WHOLE foreign side
        raise ValueError(
            "$lookup needs BOTH localField and foreignField (or "
            "neither) alongside a pipeline")
    if not let and "localField" not in spec:
        # UNCORRELATED sub-pipeline (no let vars, no concise localField):
        # nothing references the outer document, so the restricted
        # stage subset below is unnecessary — compile the sub-pipeline
        # with the FULL stage language (r12: $group/$count/$unwind/...
        # previously refused here) and broadcast the one-row collected
        # array to every outer row, the server's uncorrelated-subquery
        # cache.  Trailing $sort/$limit/$project-inclusion lift to
        # array ops AFTER the collect (in original stage order):
        # collect_list across partitions loses DataFrame order, the
        # array comparator restores it deterministically.  A $sort that
        # would remain BURIED in the sub-pipeline (below a non-liftable
        # stage) cannot define the result array's order through the
        # collect, so it refuses loudly rather than silently yielding a
        # partition-dependent order (review fix, r12).
        def _liftable(st):
            (t_op, t_spec), = st.items()
            if t_op in ("$sort", "$limit"):
                return True
            return (t_op == "$project"
                    and all(v in (1, True) for v in t_spec.values()))
        tail = []
        while stages and _liftable(stages[-1]):
            tail.insert(0, stages.pop())
        if any(next(iter(st)) == "$sort" for st in stages):
            raise ValueError(
                "uncorrelated $lookup pipeline: a $sort below "
                "non-liftable stages cannot define the result array "
                "order (Spark's collect is unordered) — move the $sort "
                "to the pipeline tail, or follow it only with "
                "$limit/$project-inclusion stages")
        sub = aggregate(foreign, stages, tables=tables) if stages else foreign
        fstruct_u = F.struct(*[F.col(c) for c in sub.columns])
        agg_u = sub.agg(F.collect_list(fstruct_u).alias(as_))
        out_u = df.crossJoin(F.broadcast(agg_u))
        arr_u = F.col(as_)
        for st in tail:
            (t_op, t_spec), = st.items()
            if t_op == "$sort":
                arr_u = F.array_sort(arr_u, _array_sort_comparator(t_spec))
            elif t_op == "$limit":
                arr_u = F.slice(arr_u, 1, int(t_spec))
            else:   # $project inclusion
                keep_fields = [k for k in t_spec]
                arr_u = F.transform(arr_u, lambda e: F.struct(
                    *[e[f].alias(f) for f in keep_fields]))
        out_u = out_u.withColumn(as_, arr_u)
        arr_type_u = out_u.schema[as_].dataType
        return out_u.withColumn(
            as_, F.coalesce(F.col(as_), F.array().cast(arr_type_u)))

    def _has_bare_field_ref(x) -> bool:
        # a "$field" (not "$$var") string anywhere → references the
        # FOREIGN document; such operands cannot compile to a local
        # Column (dict KEYS are operators, not references)
        if isinstance(x, str):
            return x.startswith("$") and not x.startswith("$$")
        if isinstance(x, dict):
            return any(_has_bare_field_ref(v) for v in x.values())
        if isinstance(x, list):
            return any(_has_bare_field_ref(v) for v in x)
        return False

    def _classify_side(operand):
        """→ ('foreign', path) | ('var', name) | ('localexpr', Column) |
        ('lit', value).  A dict/list operand referencing only
        ``$$variables`` and literals compiles to a LOCAL Column (r11 —
        previously any computed operand was refused); computed operands
        that reference foreign fields stay unsupported (they would need
        element-level re-targeting of every field reference)."""
        if isinstance(operand, str) and operand.startswith("$$"):
            name = operand[2:]
            if name not in local_vars:
                raise ValueError(f"$lookup pipeline references undefined "
                                 f"variable $${name} (let: {sorted(let)})")
            return ("var", name)
        if isinstance(operand, str) and operand.startswith("$"):
            return ("foreign", operand[1:])
        if isinstance(operand, (dict, list)):
            if _has_bare_field_ref(operand):
                raise ValueError(
                    "$lookup pipeline $expr computed operands may "
                    "reference $$variables and literals only (foreign "
                    "field paths must be bare, e.g. '$price')")
            return ("localexpr", expr_to_col(operand, dict(local_vars)))
        return ("lit", operand)

    def _local_col(side) -> Column:
        kind, val = side
        if kind == "var":
            return local_vars[val]
        if kind == "localexpr":
            return val
        return F.lit(val)

    equi: list[tuple[str, Column]] = []      # (foreign field, local col)
    residual: list[tuple[str, tuple, tuple]] = []
    # concise correlated form (Mongo 5.0): localField/foreignField may
    # accompany pipeline — the field equality is one more equi-join key
    if ("localField" in spec) != ("foreignField" in spec):
        raise ValueError("$lookup needs BOTH localField and foreignField "
                         "(or neither)")
    if "localField" in spec:
        equi.append((spec["foreignField"], F.col(spec["localField"])))
    if stages and "$match" in stages[0]:
        match_spec = dict(stages.pop(0)["$match"])
        expr = match_spec.pop("$expr", None)
        if match_spec:
            foreign = foreign.where(match_to_col(match_spec))
        def _parse_term(comp):
            """→ ('term', op, a, b) | ('$or'|'$and', [terms]) — the
            recursive residual grammar (r11: $or/$and subtrees become
            element-level boolean conditions; only TOP-level $and arms
            are equi-extraction candidates)."""
            if not (isinstance(comp, dict) and len(comp) == 1):
                raise ValueError(
                    f"unsupported $lookup pipeline $expr term {comp!r}")
            (op, operands), = comp.items()
            if op in ("$or", "$and"):
                if not isinstance(operands, list) or not operands:
                    raise ValueError(f"$lookup pipeline $expr {op} needs "
                                     "a non-empty list")
                return (op, [_parse_term(t) for t in operands])
            if (op not in _CMP_OPS and op != "$in") \
                    or not isinstance(operands, list) \
                    or len(operands) != 2:
                raise ValueError(
                    f"unsupported $lookup pipeline $expr operator {op!r}"
                    " (binary comparisons, $in, $and/$or trees)")
            a, b = (_classify_side(x) for x in operands)
            return ("term", op, a, b)

        if expr is not None:
            for comp in _flatten_expr_and(expr):
                t = _parse_term(comp)
                # top-level $eq between a foreign path and a local
                # operand ($$var or computed, r11) → EQUI-JOIN key;
                # everything else is an element-level residual
                if t[0] == "term" and t[1] == "$eq":
                    _, _, a, b = t
                    if a[0] == "foreign" and b[0] in ("var", "localexpr"):
                        equi.append((a[1], _local_col(b)))
                        continue
                    if b[0] == "foreign" and a[0] in ("var", "localexpr"):
                        equi.append((b[1], _local_col(a)))
                        continue
                residual.append(t)

    if (equi and parent_bound is not None
            and parent_bound <= _LOOKUP_PREFILTER_MAX):
        # bounded parent (a $limit survives to this $lookup): semi-join
        # the foreign side to the broadcast distinct parent keys before
        # the per-key collect_list — see _LOOKUP_PREFILTER_MAX
        pk = df.select(*[lc.alias(f"__pf_{i}")
                         for i, (_f, lc) in enumerate(equi)]).distinct()
        cond = None
        for i, (f, _lc) in enumerate(equi):
            c = F.col(f) == F.col(f"__pf_{i}")
            cond = c if cond is None else cond & c
        foreign = foreign.join(F.broadcast(pk), cond, "left_semi")
    # foreign docs as structs (pipeline $project applies inside the array)
    fstruct = F.struct(*[F.col(c) for c in foreign.columns])
    if equi:
        keys = [f for f, _ in equi]
        agg = foreign.groupBy(
            *[F.col(f).alias(f"__lk_{i}") for i, f in enumerate(keys)]
        ).agg(F.collect_list(fstruct).alias(as_))
        cond = None
        for i, (_f, local_col) in enumerate(equi):
            c = local_col == F.col(f"__lk_{i}")
            cond = c if cond is None else cond & c
        out = df.join(agg, cond, "left").drop(
            *[f"__lk_{i}" for i in range(len(keys))])
    else:
        # uncorrelated (or range-only): one-row array broadcast
        agg = foreign.agg(F.collect_list(fstruct).alias(as_))
        out = df.crossJoin(F.broadcast(agg))
    arr = F.col(as_)

    if residual:
        def elem_ref(e, side):
            kind, val = side
            if kind == "foreign":
                ref = e
                for part in val.split("."):
                    ref = ref[part]
                return ref
            if kind == "var":
                return local_vars[val]
            if kind == "localexpr":
                return val
            return F.lit(val)

        def ev(t, e) -> Column:
            if t[0] in ("$or", "$and"):
                subs = [ev(x, e) for x in t[1]]
                out = subs[0]
                for c in subs[1:]:
                    out = (out | c) if t[0] == "$or" else (out & c)
                return out
            _, op, a, b = t
            if op == "$in":
                needle = elem_ref(e, a)
                return F.exists(elem_ref(e, b),
                                lambda x: x.eqNullSafe(needle))
            return _apply_cmp(op, elem_ref(e, a), elem_ref(e, b))

        def keep(e):
            cond = None
            for t in residual:
                c = ev(t, e)
                cond = c if cond is None else cond & c
            return cond
        arr = F.filter(arr, keep)

    for stage in stages:
        (op, sspec), = stage.items()
        if op == "$project":
            keep_fields = [k for k, v in sspec.items() if v in (1, True)]
            if len(keep_fields) != len(sspec):
                raise ValueError("$lookup pipeline $project supports "
                                 "{field: 1} inclusion form only")
            arr = F.transform(arr, lambda e: F.struct(
                *[e[f].alias(f) for f in keep_fields]))
        elif op == "$sort":
            arr = F.array_sort(arr, _array_sort_comparator(sspec))
        elif op == "$limit":
            arr = F.slice(arr, 1, int(sspec))
        else:
            raise ValueError(
                f"unsupported $lookup pipeline sub-stage {op} (a leading "
                "$match then $project/$sort/$limit are supported)")

    out = out.withColumn(as_, arr)
    arr_type = out.schema[as_].dataType
    return out.withColumn(
        as_, F.coalesce(F.col(as_), F.array().cast(arr_type)))


def _stage_sort(df: DataFrame, spec: dict) -> DataFrame:
    # {field: {$meta: "textScore"}} sorts by the hidden metadata column,
    # descending (server semantics — meta sorts are always best-first)
    order = [expr_to_col({"$meta": d["$meta"]}).desc()
             if isinstance(d, dict) and "$meta" in d
             else F.col(k).asc() if d >= 0 else F.col(k).desc()
             for k, d in spec.items()]
    return df.orderBy(*order)


def _check_spec_keys(stage: str, spec: dict, allowed: frozenset | set) -> None:
    """Refuse unknown stage-spec keys loudly (r12, the
    silently-ignored-argument audit): a misspelled or unsupported
    argument must fail the plan, never be dropped — the server rejects
    unknown arguments to every multi-key stage spec, and a silent drop
    is the wrong-answer-no-error failure class."""
    unknown = set(spec) - set(allowed)
    if unknown:
        raise ValueError(
            f"{stage}: unknown argument(s) {sorted(unknown)} "
            f"(supported: {sorted(allowed)})")


def _stage_bucket(df: DataFrame, spec: dict) -> DataFrame:
    """$bucket: group by the containing [b_i, b_{i+1}) boundary interval;
    the bucket's inclusive lower bound is its ``_id`` (server semantics).
    Out-of-range values go to ``default`` (error without one, like the
    server)."""
    _check_spec_keys("$bucket", spec,
                     {"groupBy", "boundaries", "default", "output"})
    gb = expr_to_col(spec["groupBy"])
    bounds = spec["boundaries"]
    out_spec = spec.get("output", {"count": {"$sum": 1}})
    has_default = "default" in spec
    bucket = None
    for lo, hi in zip(bounds, bounds[1:]):
        cond = (gb >= F.lit(lo)) & (gb < F.lit(hi))
        bucket = F.when(cond, F.lit(lo)) if bucket is None else bucket.when(cond, F.lit(lo))
    if has_default:
        bucket = bucket.otherwise(F.lit(spec["default"]))
    aggs = [_accumulator(n, a) for n, a in out_spec.items()]
    out = df.groupBy(bucket.alias("_id")).agg(*aggs)
    if not has_default:
        # server errors on out-of-range input; surfacing them as a null
        # bucket would silently change results, so refuse at plan time if
        # any row falls outside — cheap anti-filter existence check
        outside = df.where(~((gb >= F.lit(bounds[0])) & (gb < F.lit(bounds[-1]))))
        if outside.limit(1).count() > 0:
            raise ValueError(
                "$bucket input outside boundaries and no 'default' given")
    return out


#: preferred-number mantissas (ISO 3 Renard / IEC 60063 E series /
#: MongoDB's 1-2-5 and POWERSOF2).  R5..R80 and E6..E24 are the
#: standardized tables; E48/E96/E192 are generated from the defining
#: formula round(10^(i/N), 3 significant digits) — the standards match
#: the formula except one historical cell (E192's 9.19 vs computed
#: 9.20), so the generated tables are a documented approximation.
_R20 = [1.0, 1.12, 1.25, 1.4, 1.6, 1.8, 2.0, 2.24, 2.5, 2.8, 3.15,
        3.55, 4.0, 4.5, 5.0, 5.6, 6.3, 7.1, 8.0, 9.0]
_R40 = _R20 + [1.06, 1.18, 1.32, 1.5, 1.7, 1.9, 2.12, 2.36, 2.65, 3.0,
               3.35, 3.75, 4.25, 4.75, 5.3, 6.0, 6.7, 7.5, 8.5, 9.5]
_R80 = _R40 + [1.03, 1.09, 1.15, 1.22, 1.28, 1.36, 1.45, 1.55, 1.65,
               1.75, 1.85, 1.95, 2.06, 2.18, 2.3, 2.43, 2.58, 2.72,
               2.9, 3.07, 3.25, 3.45, 3.65, 3.87, 4.12, 4.37, 4.62,
               4.87, 5.15, 5.45, 5.8, 6.15, 6.5, 6.9, 7.3, 7.75, 8.25,
               8.75, 9.25, 9.75]
_E24 = [1.0, 1.1, 1.2, 1.3, 1.5, 1.6, 1.8, 2.0, 2.2, 2.4, 2.7, 3.0,
        3.3, 3.6, 3.9, 4.3, 4.7, 5.1, 5.6, 6.2, 6.8, 7.5, 8.2, 9.1]


def _e_series(n: int) -> list[float]:
    return [round(10 ** (i / n), 2) for i in range(n)]


_GRAN_SERIES = {
    "R5": [1.0, 1.6, 2.5, 4.0, 6.3],
    "R10": [1.0, 1.25, 1.6, 2.0, 2.5, 3.15, 4.0, 5.0, 6.3, 8.0],
    "R20": _R20, "R40": _R40, "R80": _R80,
    "1-2-5": [1.0, 2.0, 5.0],
    "E6": [1.0, 1.5, 2.2, 3.3, 4.7, 6.8],
    "E12": [1.0, 1.2, 1.5, 1.8, 2.2, 2.7, 3.3, 3.9, 4.7, 5.6, 6.8, 8.2],
    "E24": _E24,
    "E48": _e_series(48), "E96": _e_series(96), "E192": _e_series(192),
}


def granularity_candidates_values(granularity: str) -> str:
    """The preferred-number candidate set of a $bucketAuto
    ``granularity`` as comma-joined double literals — the SAME values
    are spliced into the Spark plan (``array(...)``) and the DuckDB
    oracle (``[...]``), so the snap comparisons are bit-equal (no
    log10/pow at runtime: snapping is pure double comparison against
    shared literals).  Covered magnitude range: mantissa × 10^k for k
    in [-10, 12] (POWERSOF2: 2^-32..2^62); boundaries outside it snap
    to NULL and the stage raises loudly."""
    from decimal import Decimal

    if granularity == "POWERSOF2":
        vals = [float(2.0 ** k) for k in range(-32, 63)]
    elif granularity in _GRAN_SERIES:
        vals = sorted({float(Decimal(str(m)).scaleb(k))
                       for m in _GRAN_SERIES[granularity]
                       for k in range(-10, 13)})
    else:
        raise ValueError(
            f"unsupported $bucketAuto granularity {granularity!r} "
            f"(supported: {sorted(_GRAN_SERIES)} + ['POWERSOF2'])")
    return ", ".join(repr(v) for v in vals)


def granularity_candidates_sql(granularity: str) -> str:
    """Spark-SQL literal array form of
    :func:`granularity_candidates_values`."""
    return "array(" + granularity_candidates_values(granularity) + ")"


def _stage_bucket_auto(df: DataFrame, spec: dict) -> DataFrame:
    """$bucketAuto: ~equal-count buckets over the groupBy value.

    Deterministic formulation (a documented deviation, like $sample): the
    n-1 interior boundaries are the exact discrete quantiles
    (``percentile_disc`` at i/n) instead of the server's count-walk.
    They come from ONE extra aggregate over the input, broadcast back as
    a single-row side — so the plan is two scans + one group-by: no
    global sort, no ntile window.  Scale caveat (honest): EXACT
    ``percentile_disc`` holds every input value in its aggregation
    buffer, so the final merge is one O(N)-memory reducer — fine to
    ~10^8 values, not at 100 TB.  The production mode (``_APPROX_PCTL``
    set via ``aggregate(percentile_accuracy=...)`` or the
    ``spark.mongo_hadoop_spark.percentileAccuracy`` conf) swaps the
    boundary aggregate to ``approx_percentile`` — a mergeable GK
    summary with state bounded by O((1/ε)·log(εN)), ε = 1/accuracy,
    independent of input size; rank-exact while ε·N < 1/2, then the
    same exact-vs-sketch trade the server itself makes
    ($median/$percentile are t-digest approximations there).  The
    bucket document id is flattened to scalar ``_id_min``/``_id_max``
    columns.

    Bucket rule (identical in the DuckDB oracle via ``quantile_disc`` /
    ``list_filter``): v falls in bucket idx = |{c_i : v > c_i}|, which
    spans (c_idx, c_{idx+1}] with c_0 = min and c_n = max.
    """
    _check_spec_keys("$bucketAuto", spec,
                     {"groupBy", "buckets", "output", "granularity"})
    gb = expr_to_col(spec["groupBy"])
    n = int(spec["buckets"])
    out_spec = spec.get("output", {"count": {"$sum": 1}})
    tagged = df.withColumn("__ba_v", gb)
    acc = _APPROX_PCTL.get()
    if acc is not None:
        fracs = ", ".join(f"{i}/{n}" for i in range(1, n))
        q_arr = f"approx_percentile(__ba_v, array({fracs}), {int(acc)})"
    else:
        q_arr = "array(" + ", ".join(
            f"percentile_disc({i}/{n}) WITHIN GROUP (ORDER BY __ba_v)"
            for i in range(1, n)
        ) + ")"
    if "granularity" in spec:
        # snap the quantile boundaries to the preferred-number series
        # (granularity form, Mongo 3.4): lower bound rounds DOWN to the
        # series, interior/upper boundaries round UP (upper strictly,
        # so the half-open [lo, hi) buckets cover max — the server's
        # exclusive-max contract for granularity), duplicates collapse
        # (fewer buckets, like the server).  Snapping is a double
        # comparison against the SHARED literal candidate array — no
        # runtime log/pow, so both engines agree bit-for-bit.  Values
        # must be positive and within the candidate magnitude range;
        # out-of-range snaps are NULL and the assert raises loudly.
        ca = granularity_candidates_sql(str(spec["granularity"]))
        raw = tagged.select(
            F.expr(q_arr).alias("__ba_q"),
            F.min("__ba_v").alias("__ba_vmin"),
            F.max("__ba_v").alias("__ba_vmax"),
        )
        cuts = raw.select(
            F.expr(f"array_max(filter({ca}, c -> c <= __ba_vmin))")
            .alias("__ba_min"),
            F.expr(f"array_min(filter({ca}, c -> c > __ba_vmax))")
            .alias("__ba_max"),
            F.expr(
                f"array_sort(array_distinct(transform(__ba_q, "
                f"x -> array_min(filter({ca}, c -> c >= x)))))")
            .alias("__ba_snapped"),
        ).select(
            "__ba_min", "__ba_max",
            F.expr("filter(__ba_snapped, b -> b > __ba_min "
                   "AND b < __ba_max)").alias("__ba_cuts"),
        ).where(F.coalesce(
            F.assert_true(
                F.col("__ba_min").isNotNull()
                & F.col("__ba_max").isNotNull(),
                F.lit("$bucketAuto granularity: a boundary fell outside "
                      "the preferred-number magnitude range (supported: "
                      "positive values, mantissa*10^[-10,12]; POWERSOF2 "
                      "2^[-32,62])")).cast("boolean"), F.lit(True)))
        withc = tagged.join(F.broadcast(cuts))
        k = F.size(F.col("__ba_cuts"))
        idx = F.size(F.filter(F.col("__ba_cuts"),
                              lambda c: F.col("__ba_v") >= c))
        id_min = F.when(idx == 0, F.col("__ba_min")).otherwise(
            F.element_at(F.col("__ba_cuts"), idx))
        id_max = F.when(idx == k, F.col("__ba_max")).otherwise(
            F.element_at(F.col("__ba_cuts"), idx + F.lit(1)))
    else:
        cuts = tagged.select(
            F.expr(q_arr).alias("__ba_cuts"),
            F.min("__ba_v").alias("__ba_min"),
            F.max("__ba_v").alias("__ba_max"),
        )
        withc = tagged.join(F.broadcast(cuts))
        idx = F.size(F.filter(F.col("__ba_cuts"),
                              lambda c: F.col("__ba_v") > c))
        id_min = F.when(idx == 0, F.col("__ba_min")).otherwise(
            F.element_at(F.col("__ba_cuts"), idx))
        id_max = F.when(idx == n - 1, F.col("__ba_max")).otherwise(
            F.element_at(F.col("__ba_cuts"), idx + F.lit(1)))
    aggs = [_accumulator(name, a) for name, a in out_spec.items()]
    return (
        withc.withColumn("_id_min", id_min).withColumn("_id_max", id_max)
        .groupBy("_id_min", "_id_max")
        .agg(*aggs)
    )


_WINDOW_BOUND = {"unbounded": None, "current": 0}


def _frame_bound(v, side: str) -> int:
    from pyspark.sql import Window as W

    if v == "unbounded":
        return W.unboundedPreceding if side == "lo" else W.unboundedFollowing
    if v == "current":
        return W.currentRow
    return int(v)


_UNIT_MS = {"week": 604_800_000, "day": 86_400_000, "hour": 3_600_000,
            "minute": 60_000, "second": 1000, "millisecond": 1}


def _range_bound(v, unit_ms: int, side: str) -> int:
    from pyspark.sql import Window as W

    if v == "unbounded":
        return W.unboundedPreceding if side == "lo" else W.unboundedFollowing
    if v == "current":
        return W.currentRow
    if isinstance(v, bool) or not isinstance(v, (int, float)):
        raise ValueError(f"range window bound must be numeric, "
                         f"'current' or 'unbounded' (got {v!r})")
    scaled = v * unit_ms
    if scaled != int(scaled):
        raise ValueError(
            f"range window bound {v!r} must scale to an integer offset "
            f"(Spark rangeBetween takes integral bounds)")
    return int(scaled)


def _framed_window(base, sort: dict, frame, order):
    """Resolve a $setWindowFields ``window`` spec against the
    partition-only WindowSpec ``base``.

    - ``{"documents": [lo, hi]}`` → rowsBetween over the sortBy order;
    - ``{"range": [lo, hi], "unit"?: ...}`` → rangeBetween over the
      SINGLE ascending sortBy key (server rule), re-keyed to epoch
      millis when a time ``unit`` is given (units week..millisecond,
      the server's own range-window restriction — calendar units are
      not fixed-length);
    - no frame → the server default: the WHOLE partition (documents
      ["unbounded", "unbounded"]), with or without sortBy (r12;
      previously the sortBy form silently defaulted to Spark's
      cumulative ordered-window frame).

    Pre-r9 a range frame fell through to the default frame SILENTLY —
    wrong answers beat a refusal at being dangerous; now it executes
    (or raises loudly for malformed specs).
    """
    from pyspark.sql import Window as W

    w_sorted = base.orderBy(*order) if order else base
    if frame and "documents" in frame:
        lo, hi = frame["documents"]
        lo_b, hi_b = _frame_bound(lo, "lo"), _frame_bound(hi, "hi")
        # server rule: lower bound must not exceed upper bound (a
        # reversed pair is an error, not an empty frame).  Spark's
        # sentinel bounds compare correctly (unboundedPreceding is the
        # most-negative long, unboundedFollowing the most-positive,
        # currentRow 0), so one numeric check covers every form.
        if lo_b > hi_b:
            raise ValueError(
                f"window documents bounds reversed: lower {lo!r} must "
                f"be <= upper {hi!r}")
        return w_sorted.rowsBetween(lo_b, hi_b)
    if frame and "range" in frame:
        if len(sort) != 1:
            raise ValueError(
                "range window requires exactly one sortBy field")
        (sk, sd), = sort.items()
        if sd < 0:
            raise ValueError("range window requires an ascending sortBy")
        unit = frame.get("unit")
        if unit is None:
            key, unit_ms = F.col(sk), 1
        elif unit in _UNIT_MS:
            key, unit_ms = F.unix_millis(F.col(sk).cast("timestamp")), \
                _UNIT_MS[unit]
        else:
            raise ValueError(
                f"range window unit {unit!r} unsupported (server allows "
                f"week..millisecond for range windows)")
        lo, hi = frame["range"]
        lo_b = _range_bound(lo, unit_ms, "lo")
        hi_b = _range_bound(hi, unit_ms, "hi")
        if lo_b > hi_b:  # same server rule as the documents form above
            raise ValueError(
                f"window range bounds reversed: lower {lo!r} must be "
                f"<= upper {hi!r}")
        return base.orderBy(key.asc()).rangeBetween(lo_b, hi_b)
    if frame:
        raise ValueError(f"unsupported window frame {sorted(frame)}")
    if order:
        # no-frame default = the WHOLE partition, even with sortBy (the
        # server's documented default, documents ["unbounded",
        # "unbounded"]; r12 — previously defaulted to Spark's ordered-
        # window cumulative frame, silently computing running values
        # where the server computes partition totals)
        return w_sorted.rowsBetween(W.unboundedPreceding,
                                    W.unboundedFollowing)
    return w_sorted


#: window-operator argument specs ($setWindowFields output values whose
#: operand is a spec dict, not an expression) — r12 audit
_WINDOW_DICT_KEYS: dict[str, frozenset] = {
    "$shift": frozenset({"output", "by", "default"}),
    "$expMovingAvg": frozenset({"input", "N", "alpha"}),
    "$derivative": frozenset({"input", "unit"}),
    "$integral": frozenset({"input", "unit"}),
}


def _calculus_window(op: str, operand: dict, sort: dict, w_sorted, frame):
    """$derivative / $integral (Mongo 5.0 time-series window operators).

    Both require exactly one sortBy field (the server's rule).  When
    ``unit`` is given the sort field must be a timestamp and Δt is taken
    in exact integer milliseconds, scaled by one final division — so
    $integral over decimal inputs keeps an exact decimal running sum
    (dt_ms · (y + lag y) summed, ÷ 2·unit_ms once at the end) and no
    float enters an aggregation.  $derivative is (last y − first y) /
    (Δt in unit) over the frame — first/last only, no summation.
    $integral supports frames starting at "unbounded" (cumulative
    integral, the server's dominant use); bounded starts would need
    pair-exclusion bookkeeping and raise instead.
    """
    from pyspark.sql import Window as W

    if len(sort) != 1:
        raise ValueError(f"{op} requires exactly one sortBy field")
    (sk, _sd), = sort.items()
    unit = operand.get("unit")
    if unit is not None and unit not in _UNIT_MS:
        raise ValueError(f"{op}: unsupported unit {unit!r}")
    tcol = F.unix_millis(F.col(sk)) if unit else F.col(sk)
    unit_ms = _UNIT_MS[unit] if unit else 1
    y = expr_to_col(operand["input"])

    w = w_sorted
    if frame and "documents" in frame:
        lo, hi = frame["documents"]
        if op == "$integral" and lo != "unbounded":
            raise ValueError(
                "$integral: only frames starting at 'unbounded' are"
                " supported (cumulative integral)")
        w = w_sorted.rowsBetween(_frame_bound(lo, "lo"),
                                 _frame_bound(hi, "hi"))
    else:
        w = w_sorted.rowsBetween(W.unboundedPreceding, W.currentRow)

    if op == "$derivative":
        num = F.last(y).over(w) - F.first(y).over(w)
        den = (F.last(tcol).over(w) - F.first(tcol).over(w))
        out = num.cast("double") / (den.cast("double")
                                    / F.lit(float(unit_ms)))
        return F.when(den != 0, out)
    # $integral: per-row trapezoid numerator over the *partition* order,
    # summed over the frame; one division at the very end keeps decimal
    # inputs exact through the cumulative sum.  The result is quantized
    # at 1e-6 of the ms-scaled numerator: each term is cast to
    # DECIMAL(38,6) (a no-op for decimal inputs), and the final decimal →
    # double conversion goes through an *integer-valued* decimal so both
    # engines perform the identical single rounding (a >2^53 decimal with
    # a fractional part converts with engine-dependent last-ulp results;
    # an integer-valued one is correctly rounded everywhere).
    dt = tcol - F.lag(tcol).over(w_sorted)
    numer = (dt * (y + F.lag(y).over(w_sorted))).cast("decimal(38,6)")
    scaled = (F.sum(numer).over(w) * F.lit(1_000_000)).cast("decimal(38,0)")
    return scaled.cast("double") / F.lit(2.0 * unit_ms * 1_000_000.0)


def _stage_set_window_fields(df: DataFrame, spec: dict) -> DataFrame:
    """$setWindowFields: rank/documentNumber/shift and frame-bounded
    accumulators over a partition+sort window."""
    from pyspark.sql import Window as W

    _check_spec_keys("$setWindowFields", spec,
                     {"partitionBy", "sortBy", "output"})
    base = (W.partitionBy(expr_to_col(spec["partitionBy"]))
            if "partitionBy" in spec and spec["partitionBy"] is not None
            else W.partitionBy())
    sort = spec.get("sortBy") or {}
    order = [F.col(k).asc() if d >= 0 else F.col(k).desc()
             for k, d in sort.items()]
    w_sorted = base.orderBy(*order) if order else base
    for name, out in spec["output"].items():
        out = dict(out)
        frame = out.pop("window", None)
        if len(out) != 1:
            # exactly one window operator per output field (r12: extra
            # keys previously died in tuple unpacking; none silently)
            raise ValueError(
                f"$setWindowFields output {name!r} must hold exactly one "
                f"window operator (plus an optional 'window' frame); got "
                f"keys {sorted(out)}")
        (op, operand), = out.items()
        if op in _WINDOW_DICT_KEYS and isinstance(operand, dict):
            _check_spec_keys(f"$setWindowFields {op}", operand,
                             _WINDOW_DICT_KEYS[op])
        else:
            _check_expr_keys(op, operand)
        if op == "$rank":
            col = F.rank().over(w_sorted)
        elif op == "$denseRank":
            col = F.dense_rank().over(w_sorted)
        elif op == "$documentNumber":
            col = F.row_number().over(w_sorted)
        elif op == "$shift":
            # 'by' is required on the server (r12 review — previously
            # silently defaulted to 1, producing plausible unasked-for
            # values)
            if "by" not in operand:
                raise ValueError("$shift requires 'by'")
            by = operand["by"]
            default = operand.get("default")
            # struct-wrap so an OUT-OF-PARTITION position (null struct)
            # is distinguishable from a genuine null field value
            # (struct{v: null}): the server applies 'default' only to
            # the former (r12 review — coalesce replaced both)
            target = F.struct(expr_to_col(operand["output"]).alias("v"))
            fn = F.lead(target, by) if by >= 0 else F.lag(target, -by)
            led = fn.over(w_sorted)
            col = (F.when(led.isNull(), F.lit(default)).otherwise(led["v"])
                   if default is not None else led["v"])
        elif op in ("$derivative", "$integral"):
            col = _calculus_window(op, operand, sort, w_sorted, frame)
        elif op == "$locf":
            # last-observation-carried-forward window operator (Mongo 5.2)
            if not order:
                raise ValueError("$locf requires sortBy")
            w = w_sorted.rowsBetween(W.unboundedPreceding, W.currentRow)
            col = F.last(expr_to_col(operand), ignorenulls=True).over(w)
        elif op == "$linearFill":
            # linear interpolation window operator (Mongo 5.3) — same
            # IEEE shape as $fill method:linear so engines agree
            if len(sort) != 1:
                raise ValueError(
                    "$linearFill requires exactly one sortBy field")
            (sk, _d), = sort.items()
            from pyspark.sql.types import TimestampNTZType, TimestampType

            kcol = F.col(sk)
            if isinstance(df.schema[sk].dataType,
                          (TimestampType, TimestampNTZType)):
                kcol = F.unix_millis(F.col(sk))
            wb = w_sorted.rowsBetween(W.unboundedPreceding, W.currentRow)
            wf = w_sorted.rowsBetween(W.currentRow, W.unboundedFollowing)
            v = expr_to_col(operand)
            pv = F.last(v, ignorenulls=True).over(wb)
            pk = F.last(F.when(v.isNotNull(), kcol), ignorenulls=True).over(wb)
            nv = F.first(v, ignorenulls=True).over(wf)
            nk = F.first(F.when(v.isNotNull(), kcol),
                         ignorenulls=True).over(wf)
            interp = pv + (nv - pv) * ((kcol - pk).cast("double")
                                       / (nk - pk).cast("double"))
            col = (F.when(v.isNotNull(), v)
                   .when(pv.isNull() | nv.isNull(), F.lit(None))
                   .otherwise(interp))
        elif op == "$expMovingAvg":
            # exponential moving average (Mongo 5.0 window operator):
            # s_0 = x_0;  s_i = α·x_i + (1−α)·s_{i−1}
            # Implemented as the recurrence itself — a sequential fold
            # over the collected window prefix (collect_list is frame-
            # bounded, so state is per-row prefix-sized; the multiplies
            # and add are plain IEEE ops evaluated in the same order in
            # DuckDB's list_reduce, which seeds from the first element
            # exactly like s_0 = x_0).  Nulls are skipped (server
            # ignores non-numeric values).
            if not order:
                raise ValueError("$expMovingAvg requires sortBy")
            if frame is not None:
                raise ValueError("$expMovingAvg does not accept a window")
            if ("N" in operand) == ("alpha" in operand):
                raise ValueError("$expMovingAvg takes exactly one of N | alpha")
            if "N" in operand:
                n_ = int(operand["N"])
                if n_ < 1:
                    raise ValueError("$expMovingAvg N must be >= 1")
                alpha = 2.0 / (n_ + 1)
            else:
                alpha = float(operand["alpha"])
                if not 0.0 < alpha < 1.0:
                    raise ValueError("$expMovingAvg alpha must be in (0, 1)")
            v = expr_to_col(operand["input"]).cast("double")
            wb = w_sorted.rowsBetween(W.unboundedPreceding, W.currentRow)
            # collect_list skips nulls (the server ignores non-numeric
            # values); an all-null prefix has no EMA yet → null.  F.get,
            # not element_at: the seed access must tolerate the empty
            # prefix instead of raising under ANSI.
            vals = F.collect_list(v).over(wb)
            rest = F.slice(vals, F.lit(2),
                           F.greatest(F.size(vals) - 1, F.lit(0)))
            col = F.when(F.size(vals) > 0, F.aggregate(
                rest, F.get(vals, 0),
                lambda acc, x: F.lit(alpha) * x + F.lit(1.0 - alpha) * acc))
        elif op in ("$covariancePop", "$covarianceSamp"):
            xs, ys = (expr_to_col(e) for e in operand)
            w = _framed_window(base, sort, frame, order)
            fn = F.covar_pop if op == "$covariancePop" else F.covar_samp
            col = fn(xs, ys).over(w)
        else:
            # documents/range/default frame resolution (range windows —
            # the time-bounded form — execute as rangeBetween as of r9;
            # previously they silently fell through to the default frame)
            w = _framed_window(base, sort, frame, order)
            agg = {"$sum": F.sum, "$avg": F.avg, "$min": F.min, "$max": F.max,
                   "$push": F.collect_list, "$count": None,
                   "$stdDevPop": F.stddev_pop, "$stdDevSamp": F.stddev_samp}.get(op)
            if op == "$count":
                col = F.count(F.lit(1)).over(w)
            elif op == "$sum":
                # an EMPTY or all-null frame sums to 0 on the server,
                # never null (r11; same rule as the group accumulator)
                # — time-bounded range frames can be empty
                col = F.coalesce(F.sum(expr_to_col(operand)).over(w),
                                 F.lit(0))
            elif op in ("$first", "$last"):
                # frame-bounded first/last document value (Mongo 5.0)
                fn = F.first if op == "$first" else F.last
                col = fn(expr_to_col(operand)).over(w)
            elif op == "$addToSet":
                # window form (r12): shares the group accumulator core
                col = _add_to_set(operand, over=w)
            elif op in ("$minN", "$maxN", "$firstN", "$lastN"):
                # window forms (r12): share the group accumulator core
                col = _n_accumulator(op, operand, over=w)
            elif op in ("$top", "$bottom", "$topN", "$bottomN"):
                # window form (r12): the operator's OWN sortBy ranks
                # inside the frame (independent of the outer sortBy)
                col = _ranked_pick(op, operand, over=w)
            elif op in ("$median", "$percentile"):
                # window form (Mongo 7.0): same discrete-exact default /
                # approx_percentile production trade as the group
                # accumulator (_percentile_accumulator)
                inp = expr_to_col(operand["input"])
                if op == "$percentile":
                    ps = operand["p"]
                    if not isinstance(ps, list) or not ps:
                        raise ValueError(
                            "$percentile: p must be a non-empty list")
                acc_n = _APPROX_PCTL.get()
                if acc_n is not None:
                    pct = (0.5 if op == "$median"
                           else F.array(*[F.lit(float(p)) for p in ps]))
                    col = F.percentile_approx(inp, pct,
                                              F.lit(acc_n)).over(w)
                else:
                    arr = F.array_sort(F.collect_list(inp).over(w))
                    sz = F.size(arr)

                    def _pick(p: float):
                        idx = F.greatest(
                            F.ceil(sz.cast("double") * F.lit(float(p))),
                            F.lit(1))
                        return F.element_at(arr, idx.cast("int"))

                    col = (_pick(0.5) if op == "$median"
                           else F.array(*[_pick(p) for p in ps]))
            elif agg is None:
                raise ValueError(f"unsupported window accumulator {op}")
            else:
                col = agg(expr_to_col(operand)).over(w)
        if "." in name:
            # nested output field (r12): the server writes "w.total"
            # as {w: {total: ...}}; previously a FLAT column literally
            # named "w.total" — the same silent class as the dotted
            # $addFields write
            df = _add_field_dotted(df, name, col)
        else:
            df = df.withColumn(name, col)
    return df


def _stage_densify(df: DataFrame, spec: dict) -> DataFrame:
    """$densify: materialize missing steps of a numeric or date-stepped
    field so downstream windows/fills see a gapless axis.

    Supported: ``range.bounds`` = "full" (global min..max, CLOSED — max
    is an existing value), "partition" (each partition's own min..max —
    one keyed aggregation) or an explicit ``[lo, hi)`` pair (upper bound
    EXCLUSIVE, the server contract; r12 — previously generated through
    hi inclusively); ``range.unit`` absent (numeric), a fixed-duration
    unit (millisecond..week), or a calendar unit (month/quarter/year);
    ``partitionByFields`` optional.  Every date axis is anchored at
    ``lo`` itself (time-of-day preserved — r12; "day" previously
    truncated the anchor to midnight, generating ghost midnight rows
    on intra-day data).  Calendar units step as
    value_i = lo + i·step months via ``timestampadd`` — the
    day-of-month clamp is computed per step FROM THE ANCHOR, the same
    contract as Spark's native ``sequence()`` and ``$dateAdd`` with
    amount=i·step.  (The server iterates $dateAdd one step at a time,
    which additionally compounds the clamp once a day-29..31 anchor
    crosses a shorter month: Jan 31 → Feb 28 → Mar 28 server-side vs
    Mar 31 here; on anchors whose day-of-month exists in every
    generated month — day ≤ 28, or dateTrunc'd month starts — the two
    agree exactly.  Documented deviation, never silent.)

    Original documents are ALWAYS returned unmodified, on- or off-step
    (null-safe full join of the axis against the input — r12; a name-
    list join would re-split null partition keys into ghost+original).
    Generation is O(#keys × #steps); the axis join is the one shuffle.
    """
    _check_spec_keys("$densify", spec,
                     {"field", "partitionByFields", "range"})
    field = spec["field"]
    if "." in field:
        raise ValueError(
            "$densify on a dotted (nested) field is not supported — "
            "generated axis rows have no parent document to embed into;"
            " $project the nested value to a top-level field first")
    rng = spec["range"]
    _check_spec_keys("$densify range", rng, {"step", "unit", "bounds"})
    step = rng["step"]
    unit = rng.get("unit")
    parts = spec.get("partitionByFields", [])
    if isinstance(step, bool) or not isinstance(step, (int, float)) \
            or step <= 0:
        raise ValueError("$densify range.step must be a positive number")
    _FIXED_DAYS = {"millisecond": None, "second": None, "minute": None,
                   "hour": None, "day": 1, "week": 7}
    _CAL_MONTHS = {"month": 1, "quarter": 3, "year": 12}
    if unit is not None and unit not in _FIXED_DAYS \
            and unit not in _CAL_MONTHS:
        raise ValueError(
            f"unsupported $densify unit {unit!r} (fixed-duration units "
            f"{sorted(_FIXED_DAYS)} and calendar units "
            f"{sorted(_CAL_MONTHS)} supported)")
    if unit is not None:
        if float(step) != int(step):
            # int(step) would silently mangle the axis (r12 review)
            raise ValueError(
                "$densify: non-integer steps with a unit are unsupported")
        # the server errors when unit is set on a non-date field; without
        # this check a numeric axis would silently cast long->timestamp
        # (seconds) and produce a seconds-stepped numeric axis (r12)
        ftype = df.schema[field].dataType.typeName()
        if ftype not in ("timestamp", "timestamp_ntz", "date"):
            raise ValueError(
                f"$densify range.unit requires a date field; {field!r} "
                f"is {ftype}")
        if ftype == "date" and unit in ("millisecond", "second",
                                        "minute", "hour"):
            # a sub-day axis cast back to date would hold duplicate
            # values and multiply the joined originals (r12 review)
            raise ValueError(
                f"$densify: unit {unit!r} is finer than date-typed "
                f"{field!r} — use a timestamp field or unit 'day'+")

    fcol = F.col(field)
    bounds = rng.get("bounds", "full")
    explicit = not (bounds in ("partition", "full") or bounds is None)
    if bounds == "partition":
        if not parts:
            raise ValueError(
                '$densify bounds:"partition" requires partitionByFields')
        axis_src = df.groupBy(*parts).agg(F.min(fcol).alias("__lo"),
                                          F.max(fcol).alias("__hi"))
    elif not explicit:
        b = df.agg(F.min(fcol).alias("__lo"), F.max(fcol).alias("__hi"))
        axis_src = (df.select(*parts).distinct().crossJoin(F.broadcast(b))
                    if parts else b)
    else:
        lo, hi = rng["bounds"]
        if unit is None and df.schema[field].dataType.typeName() in (
                "byte", "short", "int", "integer", "long", "bigint") and any(
                isinstance(b, float) and not float(b).is_integer()
                for b in (lo, hi)):
            # the server would generate fractional ghosts, which an
            # integer column cannot hold — refuse instead of silently
            # truncating the bounds to a wrong integer axis (r12 review)
            raise ValueError(
                f"$densify: fractional explicit bounds {[lo, hi]!r} on "
                f"integer-typed {field!r} would generate unrepresentable "
                "values")
        axis_src = (df.select(*parts).distinct()
                    if parts else df.limit(1).select())
        axis_src = axis_src.withColumn("__lo", F.lit(lo)).withColumn(
            "__hi", F.lit(hi))
    if unit in _CAL_MONTHS:
        # anchored month-stepping: generate i = 0..floor(month-span/step)
        # then timestampadd from the anchor; the clamp can overshoot
        # __hi on day-29..31 anchors, so the bound filter below decides,
        # never the index count.
        months = int(step) * _CAL_MONTHS[unit]
        lo_ts = F.col("__lo").cast("timestamp")
        hi_ts = F.col("__hi").cast("timestamp")
        span = ((F.year(hi_ts) - F.year(lo_ts)) * 12
                + F.month(hi_ts) - F.month(lo_ts))
        n = F.floor(span / F.lit(months)).cast("int")
        axis = (axis_src
                .select(*parts, "__lo", "__hi",
                        F.explode(F.sequence(F.lit(0),
                                             F.greatest(n, F.lit(0))))
                        .alias("__i"))
                .withColumn(field, F.expr(
                    f"timestampadd(MONTH, __i * {months}, "
                    "cast(__lo as timestamp))")))
    elif unit is not None:
        # fixed-duration units (ms..week): ONE timestamp sequence
        # anchored at __lo exactly (time-of-day preserved)
        days = _FIXED_DAYS[unit]
        ival = (f"{days * int(step)} day" if days
                else f"{int(step)} {unit}")
        seq = F.sequence(F.col("__lo").cast("timestamp"),
                         F.col("__hi").cast("timestamp"),
                         F.expr(f"interval {ival}"))
        axis = axis_src.select(*parts, "__hi",
                               F.explode(seq).alias(field))
    elif float(step).is_integer() and df.schema[field].dataType.typeName() \
            in ("byte", "short", "int", "integer", "long", "bigint"):
        # integral fast path: native sequence()
        seq = F.sequence(F.col("__lo").cast("long"),
                         F.col("__hi").cast("long"), F.lit(int(step)))
        axis = axis_src.select(*parts, "__hi", F.explode(seq).alias(field))
    else:
        # fractional step / floating field (r12 — int() previously
        # mangled both silently): value_i = lo + i·step in doubles, one
        # multiply+add per value (same IEEE shape in DuckDB); the i
        # bound overshoots by design and the bound filter decides
        if df.schema[field].dataType.typeName() in (
                "byte", "short", "int", "integer", "long", "bigint"):
            raise ValueError(
                f"$densify: fractional step {step!r} on integer-typed "
                f"{field!r} would generate unrepresentable values")
        lo_d = F.col("__lo").cast("double")
        hi_d = F.col("__hi").cast("double")
        n = F.floor((hi_d - lo_d) / F.lit(float(step))).cast("long")
        axis = (axis_src
                .select(*parts, "__lo", "__hi",
                        F.explode(F.sequence(F.lit(0),
                                             F.greatest(n, F.lit(0))))
                        .alias("__i"))
                .withColumn(field,
                            F.col("__lo").cast("double")
                            + F.col("__i") * F.lit(float(step))))
    # one common bound filter: CLOSED upper for full/partition bounds
    # (max is an existing value), EXCLUSIVE upper for an explicit
    # [lo, hi) pair — the server contract (r12; previously inclusive)
    axis = axis.withColumn(field,
                           F.col(field).cast(df.schema[field].dataType))
    # compare in the GENERATION domain, never through the field type:
    # routing an explicit timestamp bound through a date-typed field
    # truncated it to midnight and wrongly excluded the last on-step
    # value under the [lo, hi) contract (r12 review)
    if unit is not None:
        cmp_v = F.col(field).cast("timestamp")
        cmp_hi = F.col("__hi").cast("timestamp")
    else:
        cmp_v, cmp_hi = F.col(field), F.col("__hi").cast(
            df.schema[field].dataType)
    axis = (axis.where(cmp_v < cmp_hi if explicit else cmp_v <= cmp_hi)
            .select(*parts, field))
    join_keys = parts + [field]
    # FULL OUTER with NULL-SAFE key equality (r12): the server returns
    # every original document unmodified even when its value is
    # off-step (k=4 with step 2 from lo=1, a mid-month date under
    # unit:month) — a left join from the axis silently dropped those
    # rows — and a null partition key must merge with its own axis row
    # rather than split into ghost + original (name-list joins are
    # null-rejecting).
    a, b = axis.alias("__dax"), df.alias("__din")
    cond = None
    for k in join_keys:
        c = F.col(f"__dax.`{k}`").eqNullSafe(F.col(f"__din.`{k}`"))
        cond = c if cond is None else cond & c
    keep = [F.coalesce(F.col(f"__dax.`{k}`"), F.col(f"__din.`{k}`"))
            .alias(k) for k in join_keys]
    rest = [F.col(f"__din.`{c}`").alias(c) for c in df.columns
            if c not in join_keys]
    return a.join(b, cond, "full").select(*keep, *rest)


def _stage_fill(df: DataFrame, spec: dict) -> DataFrame:
    """$fill: per-column gap filling — ``{value: expr}`` constant fill or
    ``{method: "locf"}`` last-observation-carried-forward over the
    sortBy order (one keyed window).  Partitioning comes from
    ``partitionBy`` (field-path string) or ``partitionByFields`` (name
    list) — mutually exclusive like the server (r12: partitionByFields
    was previously silently ignored)."""
    from pyspark.sql import Window as W

    _check_spec_keys("$fill", spec,
                     {"partitionBy", "partitionByFields", "sortBy",
                      "output"})
    if "partitionBy" in spec and "partitionByFields" in spec:
        raise ValueError(
            "$fill: specify either partitionBy or partitionByFields, "
            "not both (server rule)")
    parts = spec.get("partitionBy")
    if isinstance(parts, str):
        parts = [parts[1:] if parts.startswith("$") else parts]
    if "partitionByFields" in spec:
        parts = list(spec["partitionByFields"])
    base = W.partitionBy(*[F.col(p) for p in parts]) if parts else W.partitionBy()
    sort = spec.get("sortBy") or {}
    order = [F.col(k).asc() if d >= 0 else F.col(k).desc()
             for k, d in sort.items()]
    w = (base.orderBy(*order).rowsBetween(W.unboundedPreceding, W.currentRow)
         if order else base)
    for name, how in spec["output"].items():
        # exactly {value} or {method} per output (server rule; a spec
        # carrying both previously applied value and dropped method)
        if not isinstance(how, dict) or set(how) not in ({"value"},
                                                         {"method"}):
            raise ValueError(
                f"$fill output {name!r} must be {{value: <expr>}} or "
                f"{{method: 'locf'|'linear'}}; got {how!r}")
        # dotted output names fill the NESTED field in place (r12):
        # reads resolve through the path, the write goes through the
        # shared dotted-write core
        def _fill_write(d, col):
            return (_add_field_dotted(d, name, col) if "." in name
                    else d.withColumn(name, col))
        if "value" in how:
            df = _fill_write(df, F.coalesce(F.col(name),
                                            expr_to_col(how["value"])))
        elif how.get("method") == "locf":
            if not order:
                raise ValueError("$fill method locf requires sortBy")
            df = _fill_write(df, F.last(F.col(name), ignorenulls=True).over(w))
        elif how.get("method") == "linear":
            # linear interpolation between surrounding non-nulls over the
            # sortBy axis (dates interpolate on epoch-ms, like the server);
            # leading/trailing nulls stay null.  The arithmetic is one
            # fixed IEEE shape (pv + (nv-pv) * Δ/Δ) so results are
            # deterministic across engines.
            if len(sort) != 1:
                raise ValueError(
                    "$fill method linear requires exactly one sortBy field")
            (sk, _d), = sort.items()
            from pyspark.sql.types import TimestampNTZType, TimestampType

            kcol = F.col(sk)
            if isinstance(df.schema[sk].dataType,
                          (TimestampType, TimestampNTZType)):
                kcol = F.unix_millis(F.col(sk))
            wb = base.orderBy(*order).rowsBetween(W.unboundedPreceding,
                                                  W.currentRow)
            wf = base.orderBy(*order).rowsBetween(W.currentRow,
                                                  W.unboundedFollowing)
            v = F.col(name)
            pv = F.last(v, ignorenulls=True).over(wb)
            pk = F.last(F.when(v.isNotNull(), kcol),
                        ignorenulls=True).over(wb)
            nv = F.first(v, ignorenulls=True).over(wf)
            nk = F.first(F.when(v.isNotNull(), kcol),
                         ignorenulls=True).over(wf)
            interp = pv + (nv - pv) * ((kcol - pk).cast("double")
                                       / (nk - pk).cast("double"))
            df = _fill_write(
                df,
                F.when(v.isNotNull(), v)
                .when(pv.isNull() | nv.isNull(), F.lit(None))
                .otherwise(interp),
            )
        else:
            raise ValueError(f"unsupported $fill output {how!r}")
    return df


def _stage_facet(df: DataFrame, spec: dict,
                 tables: dict[str, DataFrame] | None,
                 store_path: str | None) -> DataFrame:
    """$facet: run each named sub-pipeline on the same input; emit ONE row
    whose columns are arrays of each facet's result docs.

    Compiled as: per facet, collect the sub-pipeline result into a
    single-row array (sorted canonically — structs compare field-wise —
    so the row is deterministic across shuffles), then crossJoin the
    1-row frames.  The crossJoin is structurally 1×1×…×1, never a real
    product.  Each facet re-reads the shared input; persist the input
    upstream if it is expensive."""
    if not spec:
        raise ValueError("$facet requires at least one named sub-pipeline")
    faceted = []
    for name, sub in spec.items():
        sub_df = aggregate(df, sub, tables=tables, store_path=store_path)
        arr = F.array_sort(F.collect_list(F.struct(
            *[F.col(c) for c in sub_df.columns])))
        faceted.append(sub_df.agg(arr.alias(name)))
    out = faceted[0]
    for f in faceted[1:]:
        out = out.crossJoin(f)
    return out


#: Safety cap on the UNBOUNDED $graphLookup fixpoint loop (levels, not
#: documents).  A graph whose true BFS depth exceeds this is the wrong
#: shape for a per-level driver loop (a 100k-link chain would run 100k
#: Spark jobs) — refuse loudly rather than grind.  Override with the
#: environment variable of the same name.
GRAPH_LOOKUP_MAX_LEVELS_ENV = "SPARK_GRAFT_GRAPHLOOKUP_MAX_LEVELS"
GRAPH_LOOKUP_MAX_LEVELS = 128


def _graph_lookup_fixpoint(df: DataFrame, foreign: DataFrame, fstruct,
                           start_with, cf: str, ct: str):
    """Eager BFS-to-fixpoint half of $graphLookup (no maxDepth).

    Returns ``(src, visited)`` where ``src`` carries a STABLE ``__gid``
    (localCheckpoint-ed — ``monotonically_increasing_id`` is only
    consistent within one job, and this loop runs many) and ``visited``
    is the union of per-level hit sets (__gid, __doc, __depth, __next).

    Scale shape: each level is ONE keyed equi-join (frontier ⋈ foreign
    on the connectTo field) plus one left-anti join against the set of
    (row, value) pairs already expanded — so every value is expanded at
    most once per source row and cyclic graphs terminate.  Levels are
    localCheckpoint-ed (lineage stays flat; the expanded-set union
    reads materialized partitions, never recomputes).  The only driver
    action per level is the empty-frontier convergence check — the
    Pregel vote-to-halt scalar, same contract as the CC superstep loop.
    """
    import os

    from pyspark.sql import Observation

    max_levels = int(os.environ.get(GRAPH_LOOKUP_MAX_LEVELS_ENV,
                                    GRAPH_LOOKUP_MAX_LEVELS))
    src = df.withColumn("__gid", F.monotonically_increasing_id()) \
            .localCheckpoint()
    # r12 optimization (guide §1.5, §2.4): ONE driver action per level —
    # each level checkpoints only its hit set, with the hit count riding
    # the checkpoint's own materialization pass (Observation); the next
    # frontier is derived LAZILY from the materialized hits (distinct
    # next-values anti-joined against everything already expanded) and
    # fuses into the next level's join job.  Before r12 every level ran
    # three actions (isEmpty probe + hits checkpoint + frontier
    # checkpoint).  The expanded-set bookkeeping is equivalent: the set
    # of (gid, val) pairs expanded before level k+1 equals the initial
    # frontier ∪ the next-values of levels 0..k-1 — every frontier is a
    # subset of the previous level's next-values, and next-values that
    # were anti-joined away were by definition expanded earlier, so the
    # anti-join build side is the same SET (duplicates are harmless to a
    # left-anti join).  Termination: an empty frontier produces an empty
    # hit set, and a level with zero hits cannot seed a frontier — the
    # observed hit count is the vote-to-halt scalar.
    obs0 = Observation()
    f0 = (src.select("__gid", expr_to_col(start_with).alias("__val"))
          .where(F.col("__val").isNotNull()).distinct()
          .observe(obs0, F.count(F.lit(1)).alias("n"))
          .localCheckpoint())
    frontier = f0
    seen = f0            # accumulated expanded (gid, val) set — r13: one
    #                      running union, not a per-level rebuild
    levels = []          # checkpointed per-level hit sets
    lvl = 0
    n_live = obs0.get["n"]
    while n_live > 0:
        if lvl >= max_levels:
            # n_live counts the PREVIOUS level's hits; only a genuinely
            # live frontier refuses (one extra probe, boundary only —
            # a non-empty hit set whose next-values were all null or
            # already expanded terminates cleanly exactly as before).
            if frontier.isEmpty():
                break
            raise ValueError(
                f"$graphLookup without maxDepth exceeded "
                f"{max_levels} BFS levels — graph too deep for the "
                f"per-level fixpoint loop (override with "
                f"{GRAPH_LOOKUP_MAX_LEVELS_ENV} or pass maxDepth)")
        obs = Observation()
        hits = (frontier.join(foreign, frontier["__val"] == foreign[ct])
                .select("__gid", fstruct.alias("__doc"),
                        F.lit(lvl).cast("long").alias("__depth"),
                        F.col(cf).alias("__next"))
                .observe(obs, F.count(F.lit(1)).alias("n"))
                .localCheckpoint())
        levels.append(hits)
        n_live = obs.get["n"]
        if n_live == 0:
            break
        # r13 (verdict item 3): ONE accumulated seen-set, each level's
        # next-values unioned into it once and lazily checkpointed —
        # O(D) checkpoint scans over the whole loop.  The r12 shape
        # rebuilt `f0 ∪ next(levels[0..k-1])` from scratch every level,
        # re-scanning every prior level's checkpoint per anti-join:
        # O(D²) scans at depth D.  Set equivalence is unchanged — the
        # frontier is anti-joined against the seen-set BEFORE this
        # level's next-values are folded in, exactly the old build side
        # (the lazy checkpoint materializes inside the next level's own
        # join job; no extra driver action).
        new_vals = (hits.select("__gid", F.col("__next").alias("__val"))
                    .where(F.col("__val").isNotNull()))
        frontier = (new_vals.distinct()
                    .join(seen, ["__gid", "__val"], "left_anti"))
        seen = seen.unionAll(new_vals).localCheckpoint(eager=False)
        lvl += 1
    if not levels:
        # nothing matched anywhere: empty visited with the right schema
        empty = (frontier.limit(0)
                 .join(foreign, frontier["__val"] == foreign[ct])
                 .select("__gid", fstruct.alias("__doc"),
                         F.lit(0).cast("long").alias("__depth"),
                         F.col(cf).alias("__next")))
        return src, empty
    visited = levels[0]
    for h in levels[1:]:
        visited = visited.unionAll(h)
    return src, visited


def _stage_graph_lookup(df: DataFrame, spec: dict,
                        tables: dict[str, DataFrame] | None) -> DataFrame:
    """$graphLookup: BFS transitive closure over a foreign collection.

    With ``maxDepth`` the BFS is unrolled into one lazy plan (one
    equi-join per level) — no driver actions, Catalyst sees the whole
    thing.  WITHOUT ``maxDepth`` the server semantics are traversal to
    fixpoint, which has no lazy-plan shape; that form runs an EAGER
    per-level loop like the connected-components operator
    (operators/dedup.py:connected_component_labels): each level is one
    keyed join, the next frontier is anti-joined against every value
    already expanded for that source row (so cyclic graphs terminate —
    the server likewise tracks visited documents,
    ref docs/aggregation $graphLookup "handles cyclic graphs"), and
    each level's output is localCheckpoint-ed to keep lineage flat.
    The loop ends when the frontier is empty; a safety cap of
    ``GRAPH_LOOKUP_MAX_LEVELS`` levels (env-overridable) refuses graphs
    whose BFS depth makes a per-level driver loop the wrong tool.

    The result array is canonically sorted (struct field order) rather
    than traversal-ordered — deterministic across partitionings.

    ``restrictSearchWithMatch`` pre-filters the foreign collection with
    the query language, and ``depthField`` tags each document with the
    MINIMUM recursion depth that reached it (startWith matches are 0) —
    both were SILENTLY ignored before r11.  Unknown spec keys refuse."""
    if not tables or spec["from"] not in tables:
        raise ValueError(
            f"$graphLookup from {spec['from']!r}: pass tables={{name: DataFrame}}")
    if "." in spec["as"]:
        # nested "as": same temp-name + dotted-write route as $lookup
        tmp = "__gl_as_tmp"
        out = _stage_graph_lookup(df, {**spec, "as": tmp}, tables)
        return _add_field_dotted(out, spec["as"], F.col(tmp)).drop(tmp)
    known = {"from", "startWith", "connectFromField", "connectToField",
             "as", "maxDepth", "depthField", "restrictSearchWithMatch"}
    unknown = set(spec) - known
    if unknown:
        raise ValueError(f"unsupported $graphLookup keys {sorted(unknown)}")
    foreign = tables[spec["from"]]
    if "restrictSearchWithMatch" in spec:
        foreign = foreign.where(match_to_col(spec["restrictSearchWithMatch"]))
    cf, ct, as_ = (spec["connectFromField"], spec["connectToField"], spec["as"])
    depth_field = spec.get("depthField")
    fstruct = F.struct(*[F.col(c) for c in foreign.columns])
    if "maxDepth" in spec:
        depth = int(spec["maxDepth"])
        src = df.withColumn("__gid", F.monotonically_increasing_id())
        frontier = src.select(
            "__gid", expr_to_col(spec["startWith"]).alias("__val"))
        visited = None
        for lvl in range(depth + 1):
            hits = (frontier.join(foreign, frontier["__val"] == foreign[ct])
                    .select("__gid", fstruct.alias("__doc"),
                            F.lit(lvl).cast("long").alias("__depth"),
                            F.col(cf).alias("__next")))
            visited = hits if visited is None else visited.unionAll(hits)
            frontier = hits.select(
                "__gid", F.col("__next").alias("__val")).distinct()
    else:
        src, visited = _graph_lookup_fixpoint(
            df, foreign, fstruct, spec["startWith"], cf, ct)
    if depth_field is not None:
        # min depth per reached doc (server: the number of recursions
        # needed to reach it), injected as one more struct field
        docs = (visited.groupBy("__gid", "__doc")
                .agg(F.min("__depth").alias("__mind"))
                .select("__gid",
                        F.col("__doc").withField(
                            depth_field, F.col("__mind")).alias("__doc")))
    else:
        docs = visited.dropDuplicates(["__gid", "__doc"]).select("__gid", "__doc")
    matches = (docs.groupBy("__gid")
               .agg(F.array_sort(F.collect_list("__doc")).alias(as_)))
    out = src.join(matches, "__gid", "left")
    arr_type = matches.schema[as_].dataType
    return (out.withColumn(as_, F.coalesce(F.col(as_), F.array().cast(arr_type)))
            .drop("__gid"))


def _is_live_target(store_path: str | None) -> bool:
    return bool(store_path) and store_path.startswith("mongodb://")


def _live_parts(store_path: str, coll: str, client_factory: str | None):
    """(collection URI, resolved collection object) for a live target."""
    from mongo_hadoop_spark.sources.live_read import resolve_client_factory
    from mongo_hadoop_spark.sources.uri import MongoURI

    parsed = MongoURI.parse(store_path)
    uri = parsed.with_collection(parsed.database or "test", coll).build()
    client = resolve_client_factory(client_factory)(uri)
    db = MongoURI.parse(uri).database
    return uri, client[db][coll]


def _stage_out(df: DataFrame, spec, store_path: str | None,
               client_factory: str | None = None) -> DataFrame:
    """$out: replace the target collection with the pipeline result.

    ``store_path`` may be a file-backed store directory or a
    ``mongodb://`` URI — the live form drops the target collection and
    streams per-task ordered insert batches through the datasource's
    live writer (MongoRecordWriter shape), completing the
    pipeline→live-cluster loop."""
    if store_path is None:
        raise ValueError("$out requires store_path=...")
    if isinstance(spec, dict):
        _check_spec_keys("$out", spec, {"db", "coll"})
        if "db" in spec:
            # the engine's target database is fixed by store_path (the
            # store directory / mongodb:// URI); honoring a differing db
            # silently would write to the wrong namespace (r12 audit:
            # previously ignored)
            raise ValueError(
                "$out: the target database comes from store_path (the "
                "store directory or mongodb:// URI); cross-database $out "
                "is unsupported — drop the 'db' key or point store_path "
                "at that database")
    coll = spec if isinstance(spec, str) else spec["coll"]
    if _is_live_target(store_path):
        from mongo_hadoop_spark.sources import register

        register(df.sparkSession)  # idempotent "mongodoc" registration
        uri, target = _live_parts(store_path, coll, client_factory)
        target.drop()
        writer = (df.write.format("mongodoc")
                  .option("backend", "live").option("uri", uri))
        if client_factory:
            writer = writer.option("client_factory", client_factory)
        writer.mode("append").save()
        return df
    from mongo_hadoop_spark.sinks.writers import write_documents
    from mongo_hadoop_spark.store import DocumentStore

    store = DocumentStore(store_path)
    if coll in store.list_collections():
        store.drop(coll)
    write_documents(df, store_path, coll, mode="insert")
    return df


def _subst_new_var(expr, doc: dict, let: dict | None = None):
    """Replace ``$$new`` / ``$$new.path`` / ``$$<letVar>`` references
    with literal values from the incoming document.  $merge's variables
    are only defined during merge execution — binding them at
    journal-build time makes the journaled pipeline a legal standalone
    update command (replayable by pymongo against a real server, which
    would reject the variables).  ``let`` expressions (Mongo 5.3
    $merge.let) evaluate against the SOURCE document via the dict-level
    evaluator — the same engine that later applies the pipeline."""
    from mongo_hadoop_spark.plans.paths import get_path

    if isinstance(expr, str) and expr.startswith("$$"):
        name, _, rest = expr[2:].partition(".")
        if name in ("ROOT", "CURRENT", "REMOVE"):
            # system variables resolve per TARGET document at replay time
            # (plans/updates.py eval_update_expr), not per source doc
            return expr
        if let and name in let:
            # a user let binding wins — the server's default let is
            # {new: "$$ROOT"} and an explicit let REPLACES it, so a let
            # variable named "new" shadows the builtin
            from mongo_hadoop_spark.plans.updates import eval_update_expr
            value = eval_update_expr(let[name], doc)
            if rest:
                value = get_path(value, rest) \
                    if isinstance(value, dict) else None
            return {"$literal": value}
        if name == "new":
            value = doc if not rest else get_path(doc, rest)
            return {"$literal": value}
        raise ValueError(f"$merge pipeline references undefined variable "
                         f"$${name} (let: {sorted(let or {})} + new)")
    if isinstance(expr, list):
        return [_subst_new_var(e, doc, let) for e in expr]
    if isinstance(expr, dict):
        return {k: _subst_new_var(v, doc, let) for k, v in expr.items()}
    return expr


def _merge_builder(when_matched, upsert: bool, key_cols: list[str],
                   let: dict | None = None):
    from mongo_hadoop_spark.sinks.writers import UpdateSpec

    def build(doc: dict) -> UpdateSpec:
        q = {k: doc[k] for k in key_cols}
        rest = {k: v for k, v in doc.items() if k not in key_cols}
        if isinstance(when_matched, list):
            # whenMatched update pipeline ($$new and $$let-vars bound per
            # incoming doc); on an upsert miss the pipeline runs over the
            # key seed — the update command's pipeline-upsert semantics
            # (documented deviation from the server's
            # insert-the-source-doc $merge behavior, chosen so the
            # journal replays identically through pymongo's update path)
            return UpdateSpec(q, _subst_new_var(when_matched, doc, let),
                              upsert=upsert)
        if when_matched == "replace":
            return UpdateSpec(q, dict(doc), upsert=upsert, replace=True)
        if when_matched == "merge":
            return UpdateSpec(q, {"$set": rest}, upsert=upsert)
        # keepExisting: only takes effect on insert ($setOnInsert no-ops
        # against a matched document); upsert follows whenNotMatched
        # (False under whenNotMatched:fail)
        return UpdateSpec(q, {"$setOnInsert": dict(doc)}, upsert=upsert)

    return build


def _stage_merge(df: DataFrame, spec, store_path: str | None,
                 client_factory: str | None = None,
                 spool_path: str | None = None) -> DataFrame:
    """$merge (equality-``on`` form): merge the pipeline result into the
    target collection.  whenMatched: replace | merge | keepExisting |
    fail | an UPDATE PIPELINE ([$set/$unset/$project/$replaceWith...]
    with ``$$new`` bound to the incoming document at journal-build
    time); whenNotMatched: insert | discard.  Each row becomes a
    journaled mutation replayed by the committer, the same path as
    MongoUpdateStorage.

    ``whenMatched: fail`` deviation (documented): the server aborts
    mid-merge at the first match, leaving an unspecified partial state;
    here matches are detected by insert-count accounting after a
    keepExisting-style replay — existing documents are never modified,
    all non-matching documents land, and the stage then raises.
    ``whenNotMatched: fail`` is the mirror image: matched documents are
    merged first, then the stage raises if any incoming document
    matched nothing (partial-merge-then-raise, same accounting).  Both
    fail modes pin (persist) the input so the counted frame and the
    merged frame are the same rows even for non-deterministic sources.

    ``store_path`` may be a ``mongodb://`` URI: mutations are journaled
    distributed into a spool store (``spool_path`` — the MongoRecordWriter
    temp-spool contract), then bulk-replayed through the live collection
    by ``commit_updates_live`` (ordered batches of 1000).
    """
    if store_path is None:
        raise ValueError("$merge requires store_path=...")
    from mongo_hadoop_spark.sinks.writers import apply_pending_updates, write_documents

    spec = spec if isinstance(spec, dict) else {"into": spec}
    _check_spec_keys("$merge", spec,
                     {"into", "on", "whenMatched", "whenNotMatched", "let"})
    if isinstance(spec["into"], dict):
        _check_spec_keys("$merge into", spec["into"], {"db", "coll"})
        if "db" in spec["into"]:
            raise ValueError(
                "$merge: the target database comes from store_path (the "
                "store directory or mongodb:// URI); cross-database "
                "$merge is unsupported — drop the 'db' key or point "
                "store_path at that database")
    coll = spec["into"] if isinstance(spec["into"], str) else spec["into"]["coll"]
    on = spec.get("on", "_id")
    on_cols = [on] if isinstance(on, str) else list(on)
    when_matched = spec.get("whenMatched", "replace")
    when_not = spec.get("whenNotMatched", "insert")
    pipeline_matched = isinstance(when_matched, list)
    if pipeline_matched and not when_matched:
        raise ValueError("$merge whenMatched pipeline must be non-empty")
    if ((not pipeline_matched and when_matched not in
         ("replace", "merge", "keepExisting", "fail"))
            or when_not not in ("insert", "discard", "fail")
            or (when_matched == "fail" and when_not != "insert")
            or (when_not == "fail" and when_matched == "fail")):
        raise ValueError(
            f"unsupported $merge mode whenMatched={when_matched!r} "
            f"whenNotMatched={when_not!r}")
    if when_matched == "keepExisting" and when_not == "discard":
        return df  # neither side can change anything
    if _is_live_target(store_path):
        if when_matched == "fail":
            raise ValueError(
                "$merge whenMatched:fail is not supported against a live "
                "target (it must detect matches WITHOUT applying them, "
                "which bulk_write cannot do); use keepExisting")
        import tempfile

        from mongo_hadoop_spark.sinks.live import commit_updates_live
        from mongo_hadoop_spark.sinks.writers import journal_updates

        _uri, target = _live_parts(store_path, coll, client_factory)
        spool = spool_path or tempfile.mkdtemp(prefix="mongo_merge_spool_")
        if when_not == "fail":
            # pin df: count and journal replay must see the SAME rows
            # even when the source is non-deterministic
            df = df.persist()
        try:
            n_incoming = df.count() if when_not == "fail" else None
            journal_updates(df, spool, coll, _merge_builder(
                when_matched, when_not == "insert", on_cols,
                let=spec.get("let")))
            stats = commit_updates_live(spool, coll, target)
            if when_not == "fail" and stats["matched"] < n_incoming:
                raise ValueError(
                    f"$merge whenNotMatched:fail — "
                    f"{n_incoming - stats['matched']} incoming documents "
                    "matched no existing document (matched docs were merged)")
        finally:
            if when_not == "fail":
                df.unpersist()
        return df
    if when_matched == "fail":
        from mongo_hadoop_spark.store import DocumentStore

        df = df.persist()   # count and replay must see the SAME rows
        try:
            n_incoming = df.count()
            before = DocumentStore(store_path).collection(coll).count()
            write_documents(df, store_path, coll, mode="update",
                            update_builder=_merge_builder("keepExisting",
                                                          True, on_cols))
            apply_pending_updates(store_path, coll)
            inserted = (DocumentStore(store_path).collection(coll).count()
                        - before)
            if inserted < n_incoming:
                raise ValueError(
                    f"$merge whenMatched:fail — {n_incoming - inserted} "
                    "incoming documents matched existing ones (existing "
                    "docs unchanged)")
        finally:
            df.unpersist()
        return df
    if when_not == "fail":
        # server semantics: error when an incoming doc matches NOTHING;
        # matched docs are merged first (count-based detection like the
        # whenMatched:fail path — the upsert half never runs)
        df = df.persist()   # count and replay must see the SAME rows
        try:
            n_incoming = df.count()
            stats = write_documents(
                df, store_path, coll, mode="update",
                update_builder=_merge_builder(when_matched, False, on_cols,
                                              let=spec.get("let")))
            if stats["matched"] < n_incoming:
                raise ValueError(
                    f"$merge whenNotMatched:fail — "
                    f"{n_incoming - stats['matched']} incoming documents "
                    "matched no existing document (matched docs were merged)")
        finally:
            df.unpersist()
        return df
    write_documents(df, store_path, coll, mode="update",
                    update_builder=_merge_builder(when_matched,
                                                  when_not == "insert",
                                                  on_cols,
                                                  let=spec.get("let")))
    apply_pending_updates(store_path, coll)
    return df


def _redact_rewrite(expr, dtype):
    """Rewrite field paths for per-level $redact evaluation: ``"$x"`` →
    ``"$$CURRENT.x"`` so the same condition compiles against whatever
    node (root row, struct field, array element) is current.  Paths that
    do not resolve through this level's schema become ``$$MISSING``
    (null) — the server's missing-field semantics, and the reason the
    same condition can mention fields that only exist at some levels.
    System variables (``$$PRUNE``/``$$KEEP``/``$$DESCEND``) pass through."""
    from pyspark.sql.types import StructType

    if isinstance(expr, str):
        if expr.startswith("$$"):
            return expr
        if expr.startswith("$"):
            cur = dtype
            for seg in expr[1:].split("."):
                if isinstance(cur, StructType) and seg in cur.fieldNames():
                    cur = cur[seg].dataType
                else:
                    return "$$MISSING"
            return "$$CURRENT." + expr[1:]
        return expr
    if isinstance(expr, dict):
        return {k: _redact_rewrite(v, dtype) for k, v in expr.items()}
    if isinstance(expr, list):
        return [_redact_rewrite(v, dtype) for v in expr]
    return expr


def _redact_decision(expr, node: Column, dtype) -> Column:
    env = {"CURRENT": node, "MISSING": F.lit(None), "PRUNE": F.lit("prune"),
           "KEEP": F.lit("keep"), "DESCEND": F.lit("descend")}
    return expr_to_col(_redact_rewrite(expr, dtype), env)


def _redact_elem_fn(element_type, expr):
    """1-arg lambda factory for array-element redaction (closure capture,
    not default args — see NOTE at the call sites)."""
    return lambda e: _redact_value(e, element_type, expr)


def _redact_value(node: Column, dtype, expr) -> Column:
    """Redact one embedded document (struct Column): returns the node
    unchanged ($$KEEP), null ($$PRUNE — our missing), or a rebuilt struct
    whose document-typed fields are redacted recursively ($$DESCEND)."""
    from pyspark.sql.types import ArrayType, StructType

    decision = _redact_decision(expr, node, dtype)
    fields = []
    for f in dtype.fields:
        child = node[f.name]
        if isinstance(f.dataType, StructType):
            fields.append(_redact_value(child, f.dataType, expr).alias(f.name))
        elif (isinstance(f.dataType, ArrayType)
              and isinstance(f.dataType.elementType, StructType)):
            # NOTE: a plain 1-arg lambda — pyspark passes (element, index)
            # to 2-arg lambdas, so default-arg capture would be clobbered
            redacted = F.filter(
                F.transform(child, _redact_elem_fn(f.dataType.elementType,
                                                   expr)),
                lambda e: e.isNotNull())
            fields.append(redacted.alias(f.name))
        else:
            fields.append(child.alias(f.name))
    descended = F.struct(*fields)
    return (F.when(decision == "prune", F.lit(None))
            .when(decision == "keep", node)
            .otherwise(descended))


def _stage_redact(df: DataFrame, spec) -> DataFrame:
    """``$redact``: per-level conditional pruning (field-level access
    control).  The condition is evaluated against the root document and
    again against every embedded document (struct fields and elements of
    arrays of documents — schema-driven recursion, fully compiled into
    the plan): ``$$PRUNE`` drops the subtree, ``$$KEEP`` keeps it without
    descending, ``$$DESCEND`` keeps this level and recurses.  A pruned
    embedded document becomes null (this engine's missing); a pruned root
    filters the row.  Scale: pure per-row expressions, no shuffle.
    """
    from pyspark.sql.types import ArrayType, StructType

    expr = spec
    root = F.struct(*[F.col(c) for c in df.columns])
    root_type = StructType(df.schema.fields)
    decision = _redact_decision(expr, root, root_type)
    out_cols = []
    for name in df.columns:
        dt = df.schema[name].dataType
        child = F.col(name)
        if isinstance(dt, StructType):
            red = _redact_value(child, dt, expr)
        elif isinstance(dt, ArrayType) and isinstance(dt.elementType,
                                                      StructType):
            red = F.filter(
                F.transform(child, _redact_elem_fn(dt.elementType, expr)),
                lambda e: e.isNotNull())
        else:
            red = child
        out_cols.append(
            F.when(decision == "keep", child).otherwise(red).alias(name))
    return df.where(decision != "prune").select(*out_cols)


#: hidden metadata columns attached by the search stages; resolved by
#: {$meta: ...} in later $project stages and stripped from the final result
_VS_SCORE_COL = "__vs_score__"
_GEO_DIST_COL = "__geo_dist__"
_GEO_H_COL = "__geo_h__"
_FUSION_SCORE_COL = "__fusion_score__"


def _array_literal(values) -> Column:
    """Numeric array literal as ONE SQL expression string — per-element
    F.lit Columns cost a py4j round-trip each (SCALE.md round-4 finding)."""
    return F.expr("array(" + ", ".join(repr(float(v)) for v in values) + ")")


_SEARCH_SCORE_COL = "__search_score__"
_SEARCH_HIGHLIGHTS_COL = "__search_highlights__"
_TEXT_SCORE_COL = "__text_score__"


def _highlight_parts(df: DataFrame, path: str, terms: list[str],
                     max_edits: int | None = None) -> DataFrame:
    """Add the highlight building blocks as columns: ``__hl_ws``
    (original-case tokens), ``__hl_flags`` (case-insensitive hit flags —
    Levenshtein-widened when the text operator ran with ``fuzzy``, so
    fuzzy-matched tokens highlight like the server's),
    ``__hl_bounds``/``__hl_ends`` (1-based run boundaries of maximal
    consecutive hit / non-hit token runs) and ``__hl_nhits``.

    Shared by the $search ``highlight`` option (nested searchHighlights
    struct) and the flat segment form
    (:func:`search_highlight_segments`).
    """
    tset = F.array(*[F.lit(t) for t in terms])
    ws = F.filter(F.split(F.col(path), r"\s+"), lambda x: x != "")
    df = df.withColumn("__hl_ws", ws)
    if max_edits is None:
        hit = lambda w: F.array_contains(tset, F.lower(w))  # noqa: E731
    else:
        def hit(w):
            return F.exists(
                tset, lambda t: F.levenshtein(F.lower(w), t)
                <= F.lit(max_edits))
    df = df.withColumn("__hl_flags", F.transform("__hl_ws", hit))
    # greatest(i-1, 1): OR is not guaranteed to short-circuit under
    # codegen, and element_at(_, 0) raises — at i=1 the comparison is
    # self-equal (false) and the i=1 disjunct carries the boundary
    df = df.withColumn(
        "__hl_bounds",
        F.filter(
            F.sequence(F.lit(1), F.size("__hl_ws")),
            lambda i: (i == 1) | (
                F.element_at(F.col("__hl_flags"), i)
                != F.element_at(F.col("__hl_flags"),
                                F.greatest(i - 1, F.lit(1))))))
    df = df.withColumn(
        "__hl_ends",
        F.concat(
            F.slice(F.col("__hl_bounds"), 2,
                    F.greatest(F.size("__hl_bounds") - 1, F.lit(0))),
            F.array(F.size("__hl_ws") + 1)))
    return df.withColumn(
        "__hl_nhits", F.size(F.filter(F.col("__hl_flags"), lambda f: f)))


_HL_PART_COLS = ["__hl_ws", "__hl_flags", "__hl_bounds", "__hl_ends",
                 "__hl_nhits"]


def _with_highlight(df: DataFrame, path: str, terms: list[str],
                    max_edits: int | None = None) -> DataFrame:
    """Attach ``_SEARCH_HIGHLIGHTS_COL`` — the ``highlight`` option of
    the $search text/phrase operators, as the server's
    ``searchHighlights`` shape: array of passages, each
    ``{path, score, texts: [{value, type: 'hit'|'text'}]}``.

    Documented deviations: ONE passage spanning the whole field (Lucene
    breaks passages at sentence boundaries and caps maxNumPassages; the
    synthetic corpus is sentence-less), and passage score = hit count
    (Lucene scores passages BM25-ish off the index).

    Performance note: Catalyst collapses the part columns back into the
    nested struct expression (re-evaluating the tokenize subtree once
    per reference — a heavy CONSTANT factor, still linear per row).
    Pipelines that post-process per segment should flatten through
    :func:`search_highlight_segments` instead, whose Generate barrier
    materializes the arrays once per row (measured 60 s → ~1 s at
    sf0.1 for the flattened registry query).
    """
    df = _highlight_parts(df, path, terms, max_edits)
    texts = F.zip_with(
        F.col("__hl_bounds"), F.col("__hl_ends"),
        lambda s, e: F.struct(
            F.array_join(F.slice(F.col("__hl_ws"), s, e - s), " ")
            .alias("value"),
            F.when(F.element_at(F.col("__hl_flags"), s), F.lit("hit"))
            .otherwise(F.lit("text")).alias("type")))
    nhits = F.col("__hl_nhits")
    passage = F.struct(F.lit(path).alias("path"),
                       nhits.cast("double").alias("score"),
                       texts.alias("texts"))
    col = F.when((F.size("__hl_ws") > 0) & (nhits > 0), F.array(passage)) \
        .otherwise(F.slice(F.array(passage), 1, 0))
    return (df.withColumn(_SEARCH_HIGHLIGHTS_COL, col)
            .drop(*_HL_PART_COLS))


def search_highlight_segments(df: DataFrame, path: str,
                              terms: list[str],
                              max_edits: int | None = None) -> DataFrame:
    """Flat form of the highlight segmentation: the input rows that
    contain at least one hit, exploded to one row per hit/text run —
    added columns ``seg`` (1-based), ``value``, ``type``, ``n_hits``.

    Scale shape: the run boundaries posexplode through a Generate node,
    which MATERIALIZES the token/flag arrays as physical attributes —
    the per-segment slice/element_at then read the arrays O(1) instead
    of re-evaluating their defining expressions (Catalyst performs no
    common-subexpression elimination inside lambda bodies, so the
    nested-struct form re-tokenizes per segment: measured 60 s vs ~1 s
    at sf0.1).  Everything stays map-only.
    """
    parts = _highlight_parts(df, path, terms,
                             max_edits).where(F.col("__hl_nhits") > 0)
    segs = parts.select(
        *df.columns, "__hl_ws", "__hl_flags",
        F.col("__hl_nhits").alias("n_hits"),
        F.posexplode(F.zip_with(
            "__hl_bounds", "__hl_ends",
            lambda s, e: F.struct(s.alias("s"), e.alias("e")))
        ).alias("i", "se"),
    )
    return segs.select(
        *df.columns, (F.col("i") + 1).alias("seg"),
        F.array_join(
            F.slice(F.col("__hl_ws"), F.col("se.s"),
                    F.col("se.e") - F.col("se.s")), " ").alias("value"),
        F.when(F.element_at(F.col("__hl_flags"), F.col("se.s")),
               F.lit("hit")).otherwise(F.lit("text")).alias("type"),
        "n_hits")


def _parse_query_string(s: str) -> list:
    """Parse Lucene query-string syntax into a tiny AST:
    ``("term", field|None, text)`` / ``("phrase", field|None, text)`` /
    ``("and"|"or", [nodes])`` / ``("not", node)``.

    Grammar (the $search queryString subset): ``field:term``,
    ``field:"a phrase"``, AND / OR / NOT (case-sensitive keywords, like
    Lucene), parentheses; bare whitespace juxtaposition is OR (Lucene's
    default operator).  Wildcards * and ? are allowed inside terms
    (token-level matching).  Unbalanced parens / dangling operators
    raise."""
    import re as _re

    toks = _re.findall(r'\(|\)|[^\s()"]*"[^"]*"|[^\s()]+', s)
    pos = [0]

    def peek():
        return toks[pos[0]] if pos[0] < len(toks) else None

    def take():
        t = peek()
        pos[0] += 1
        return t

    def atom():
        t = take()
        if t is None:
            raise ValueError("queryString: unexpected end of query")
        if t == "(":
            node = or_expr()
            if take() != ")":
                raise ValueError("queryString: unbalanced parentheses")
            return node
        if t == ")":
            raise ValueError("queryString: unbalanced parentheses")
        if t == "NOT":
            return ("not", atom())
        if t in ("AND", "OR"):
            raise ValueError(f"queryString: dangling operator {t}")
        field = None
        if ":" in t and not t.startswith('"'):
            field, _, t = t.partition(":")
        if t.startswith('"') and t.endswith('"') and len(t) >= 2:
            return ("phrase", field, t[1:-1])
        return ("term", field, t)

    def and_expr():
        nodes = [atom()]
        while peek() == "AND":
            take()
            nodes.append(atom())
        return nodes[0] if len(nodes) == 1 else ("and", nodes)

    def or_expr():
        nodes = [and_expr()]
        while peek() is not None and peek() != ")":
            if peek() == "OR":
                take()
            nodes.append(and_expr())
        return nodes[0] if len(nodes) == 1 else ("or", nodes)

    node = or_expr()
    if peek() is not None:
        raise ValueError("queryString: trailing tokens")
    return node


def _search_clause(op: str, spec: dict):
    """Compile one $search operator to (match Column, score Column).

    Scoring deviation (documented): Atlas scores with BM25 off a Lucene
    index; with no index object here, the score is the raw term
    frequency (constant IDF).  Match semantics are the server's; order
    by {$meta: "searchScore"} remains meaningful (more hits > fewer).

    Every clause accepts Atlas's ``score`` option in its ``boost``
    (multiply) and ``constant`` (replace) forms.
    """
    score_opt = spec.get("score") if isinstance(spec, dict) else None
    if score_opt is not None:
        spec = {k: v for k, v in spec.items() if k != "score"}
        cond, score = _search_clause(op, spec)
        if "boost" in score_opt:
            return cond, score * F.lit(float(score_opt["boost"]["value"]))
        if "constant" in score_opt:
            return cond, F.lit(float(score_opt["constant"]["value"]))
        raise ValueError(
            f"unsupported $search score option {sorted(score_opt)} "
            "(boost/constant)")
    from mongo_hadoop_spark.functions import tokenize

    def paths(p):
        return p if isinstance(p, list) else [p]

    if op == "queryString":
        # Lucene query-string syntax over analyzed tokens: field:term,
        # field:"a phrase", AND/OR/NOT, parens, token-level */?
        # wildcards; terms without a field use defaultPath.  Constant
        # score 1 (documented — boolean structure has no tf meaning).
        import re as _re

        default = spec["defaultPath"]
        ast = _parse_query_string(str(spec["query"]))

        def term_cond(field, text, phrase):
            words = tokenize(F.lower(F.col(field or default)))
            low = text.lower()
            if phrase:
                # space-anchor both sides so the phrase matches whole
                # tokens only (Lucene token-phrase semantics): without
                # the anchors 'cat dog' would match ['concat','dogs']
                # across token boundaries.  Tokens never contain spaces
                # (split on \s+), so the anchor is sound.
                stream = F.concat_ws(" ", words)
                needle = " ".join(low.split())
                return F.instr(F.concat(F.lit(" "), stream, F.lit(" ")),
                               " " + needle + " ") > 0
            if "*" in low or "?" in low:
                pat = "^" + "".join(
                    ".*" if ch == "*" else "." if ch == "?"
                    else _re.escape(ch) for ch in low) + "$"

                def _like(p):
                    # 1-arg closure (default-arg would become the
                    # element index under pyspark's 2-arg lambda rule)
                    return lambda w: w.rlike(p)

                return F.exists(words, _like(pat))
            return F.array_contains(words, low)

        def compile_node(node):
            kind = node[0]
            if kind == "term":
                return term_cond(node[1], node[2], phrase=False)
            if kind == "phrase":
                return term_cond(node[1], node[2], phrase=True)
            if kind == "not":
                return ~F.coalesce(compile_node(node[1]), F.lit(False))
            if kind == "or":
                # Lucene classic semantics: inside an OR (or bare
                # juxtaposition) group, NOT clauses are prohibitions
                # (MUST_NOT) of the whole group, not OR'd alternatives
                # — 'a NOT b' / 'a OR NOT b' mean (a) AND NOT (b).  A
                # pure-negative group is the conjunction of its
                # prohibitions.  AND groups get this for free (an
                # AND'd negation IS a prohibition).
                pos = [compile_node(n) for n in node[1]
                       if n[0] != "not"]
                neg = [compile_node(n) for n in node[1]
                       if n[0] == "not"]
                out = None
                for p in pos:
                    out = p if out is None else out | p
                for q in neg:   # q is already the negated condition
                    out = q if out is None else out & q
                return out
            parts = [compile_node(n) for n in node[1]]
            out = parts[0]
            for p in parts[1:]:
                out = out & p
            return out

        cond = compile_node(ast)
        return cond, F.lit(1)
    if op == "moreLikeThis":
        # Atlas extracts representative terms from the like documents'
        # fields (via the index); here every string field of every like
        # doc contributes its tokens, scored by tf against that same
        # field — no term selection (no df stats without an index)
        like = spec["like"]
        like = like if isinstance(like, list) else [like]

        def _is(tok):
            # 1-arg closure (a default-arg capture would make pyspark
            # pass the element INDEX as the second lambda arg)
            return lambda w: w == F.lit(tok)

        score = F.lit(0)
        for doc in like:
            if not isinstance(doc, dict) or not doc:
                raise ValueError("moreLikeThis like entries must be "
                                 "non-empty documents")
            for field, value in doc.items():
                if not isinstance(value, str):
                    continue
                words = tokenize(F.lower(F.col(field)))
                for t in dict.fromkeys(value.lower().split()):
                    score = score + F.size(F.filter(words, _is(t)))
        return score > 0, score
    if op == "autocomplete":
        # token-prefix matching (the analyzer's edgeGram role); score =
        # number of prefix-matching tokens
        needle = str(spec["query"]).lower()
        score = F.lit(0)
        for p in paths(spec["path"]):
            words = tokenize(F.lower(F.col(p)))
            score = score + F.size(F.filter(
                words, lambda w: w.startswith(needle)))
        return score > 0, score
    if op == "text":
        if spec.get("bm25") not in (None, False):
            raise ValueError(
                "bm25 text scoring is supported on a top-level text "
                "clause only (not inside compound)")
        # standard-analyzer-ish: lowercase whitespace tokens; any query
        # token matching contributes its tf to the score.  Atlas `fuzzy`
        # widens a token's matches to words within maxEdits Levenshtein
        # distance (default 2, like the server) — edit distance is
        # integer-exact in any engine, so fuzzy matching stays
        # oracle-gateable.
        toks = [t for t in str(spec["query"]).lower().split() if t]
        fuzzy = spec.get("fuzzy")
        max_edits = None
        if fuzzy is not None:
            if fuzzy is not True and not isinstance(fuzzy, dict):
                raise ValueError("text fuzzy takes {} or {maxEdits: 1|2}")
            max_edits = int((fuzzy or {}).get("maxEdits", 2)) \
                if isinstance(fuzzy, dict) else 2
            if max_edits not in (1, 2):
                raise ValueError("fuzzy maxEdits must be 1 or 2 "
                                 "(server rule)")
        score = F.lit(0)

        def _eq(tok):
            # 1-arg closure — pyspark passes (element, index) to 2-arg
            # lambdas, so a default-arg capture would become the index
            return lambda w: w == F.lit(tok)

        def _near(tok, k):
            return lambda w: F.levenshtein(w, F.lit(tok)) <= F.lit(k)

        for p in paths(spec["path"]):
            words = tokenize(F.lower(F.col(p)))
            for t in toks:
                pred = _eq(t) if max_edits is None else _near(t, max_edits)
                score = score + F.size(F.filter(words, pred))
        return score > 0, score
    if op == "phrase":
        # consecutive-token match on the normalized token stream.
        # Boundary anchoring (Lucene token-phrase semantics): tokens are
        # joined with DOUBLE spaces and the needle is single-space-
        # padded with double spaces between words, so (a) a phrase can
        # never match across token boundaries ('cat dog' vs
        # ['concat','dogs']) and (b) back-to-back occurrences don't
        # share a separator and are both counted by the non-overlapping
        # replace().  Tokens never contain spaces (split on \s+).
        needle = " " + "  ".join(str(spec["query"]).lower().split()) + " "
        score = F.lit(0)
        for p in paths(spec["path"]):
            stream = F.concat(
                F.lit("  "),
                F.concat_ws("  ", tokenize(F.lower(F.col(p)))),
                F.lit("  "))
            # occurrences of the phrase in the token stream
            occ = ((F.length(stream)
                    - F.length(F.replace(stream, F.lit(needle), F.lit(""))))
                   / F.lit(len(needle))).cast("int")
            score = score + occ
        return score > 0, score
    if op == "exists":
        return F.col(spec["path"]).isNotNull(), F.lit(1)
    if op == "equals":
        return F.col(spec["path"]) == F.lit(spec["value"]), F.lit(1)
    if op in ("wildcard", "regex"):
        # Lucene term-level queries; with no index the whole (un-analyzed)
        # field value is matched, anchored — Atlas's default
        # allowAnalyzedField:false posture.  Constant score 1.
        if op == "wildcard":
            import re as _re
            pat = "".join(".*" if ch == "*" else "." if ch == "?"
                          else _re.escape(ch) for ch in str(spec["query"]))
        else:
            pat = "(?:" + str(spec["query"]) + ")"
        cond = None
        for p in paths(spec["path"]):
            m = F.col(p).rlike("^" + pat + "$")
            cond = m if cond is None else cond | m
        return cond, F.lit(1)
    if op == "in":
        vals = spec["value"] if isinstance(spec["value"], list) \
            else [spec["value"]]
        cond = None
        for p in paths(spec["path"]):
            m = F.col(p).isin(vals)
            cond = m if cond is None else cond | m
        return cond, F.lit(1)
    if op == "range":
        col = F.col(spec["path"])
        cond = F.lit(True)
        for k, fn in (("gte", col.__ge__), ("gt", col.__gt__),
                      ("lte", col.__le__), ("lt", col.__lt__)):
            if k in spec:
                cond = cond & fn(F.lit(spec[k]))
        return cond, F.lit(1)
    if op == "compound":
        must = [next(iter(c.items())) for c in spec.get("must", [])]
        should = [next(iter(c.items())) for c in spec.get("should", [])]
        must_not = [next(iter(c.items())) for c in spec.get("mustNot", [])]
        filters = [next(iter(c.items())) for c in spec.get("filter", [])]
        min_should = int(spec.get("minimumShouldMatch", 0))
        cond, score = F.lit(True), F.lit(0)
        for o, s in must:
            m, sc = _search_clause(o, s)
            cond, score = cond & m, score + sc
        for o, s in filters:       # matches without contributing score
            m, _sc = _search_clause(o, s)
            cond = cond & m
        for o, s in must_not:
            m, _sc = _search_clause(o, s)
            cond = cond & ~F.coalesce(m, F.lit(False))
        if should:
            sh = [(m, sc) for m, sc in (_search_clause(o, s)
                                        for o, s in should)]
            n_matched = None
            for m, _ in sh:
                hit = F.coalesce(m, F.lit(False)).cast("int")
                n_matched = hit if n_matched is None else n_matched + hit
            for m, sc in sh:
                score = score + F.when(m, sc).otherwise(F.lit(0))
            # server rules: minimumShouldMatch clauses must match; with
            # no must/filter at least ONE should must match regardless
            floor_n = max(min_should,
                          0 if (must or filters) else 1)
            if floor_n:
                cond = cond & (n_matched >= F.lit(floor_n))
        elif min_should:
            raise ValueError(
                "minimumShouldMatch needs should clauses")
        return cond, score
    raise ValueError(f"unsupported $search operator {op!r}")


def _parse_text_search(q: str):
    """Parse a ``$text`` ``$search`` string into (positive terms,
    negated terms, required phrases, negated phrases) — the server's
    grammar: whitespace terms OR'd, ``-term`` negated, ``"a phrase"``
    required, ``-"a phrase"`` prohibited.  Words inside a required
    phrase also count as positive search terms (server behavior: the
    phrase's terms participate in OR matching and scoring)."""
    import re as _re

    pos_terms: list[str] = []
    neg_terms: list[str] = []
    pos_phrases: list[str] = []
    neg_phrases: list[str] = []

    def _grab(m):
        target = neg_phrases if m.group(1) else pos_phrases
        if m.group(2).split():
            target.append(m.group(2))
        return " "

    rest = _re.sub(r'(-?)"([^"]*)"', _grab, q)
    for t in rest.split():
        if t.startswith("-") and len(t) > 1:
            neg_terms.append(t[1:])
        elif t != "-":
            pos_terms.append(t)
    for ph in pos_phrases:
        pos_terms.extend(ph.split())
    return (list(dict.fromkeys(pos_terms)), list(dict.fromkeys(neg_terms)),
            pos_phrases, neg_phrases)


def _diacritic_fold_map() -> tuple[str, str]:
    """(src, dst) strings for diacritic folding — the same literal pair
    drives ``F.translate`` on the document side, ``str.translate`` on
    the query-term side, and ``translate()`` in DuckDB oracles, so all
    three fold identically.  Coverage: the Latin range U+00C0–U+024F
    folded to the ASCII base letter of its NFD decomposition, plus the
    common non-decomposable pairs (ø đ ł ħ ŧ and capitals).  This is a
    documented subset of the server's Unicode 8.0 diacritic list
    (mongod folds all scripts); text outside Latin-1/Extended-A keeps
    its marks."""
    import unicodedata

    src, dst = [], []
    for cp in range(0xC0, 0x250):
        ch = chr(cp)
        d = unicodedata.normalize("NFD", ch)
        if (len(d) > 1 and d[0].isascii() and d[0].isalpha()
                and all(unicodedata.combining(c) for c in d[1:])):
            src.append(ch)
            dst.append(d[0])
    for a, b in (("ø", "o"), ("Ø", "O"), ("đ", "d"), ("Đ", "D"),
                 ("ł", "l"), ("Ł", "L"), ("ħ", "h"), ("Ħ", "H"),
                 ("ŧ", "t"), ("Ŧ", "T")):
        if a not in src:
            src.append(a)
            dst.append(b)
    return "".join(src), "".join(dst)


def _stage_text_match(df: DataFrame, match_spec: dict) -> DataFrame:
    """``$text`` compatibility bridge: the find-language text query
    compiled onto the $search token machinery (reference-adjacent: the
    one Mongo query operator a migrating user still hits a wall on —
    r7 verdict item 5).

    Form: ``{$match: {$text: {$search: "<query>", path: <field>,
    $caseSensitive?: bool, $language?: str}, ...rest}}`` — ``path`` is
    a REQUIRED engine extension (the server resolves searched fields
    from the collection's text index; no index exists here).

    Semantics vs the server, documented deviations:
    - match: any positive term present (OR), every ``"phrase"``
      present as consecutive tokens, no ``-term``/``-"phrase"``
      present — the server's boolean structure exactly;
    - tokens are whitespace-split (``functions.tokenize``), matched
      EXACTLY: no stemming and no stop-word removal, so ``$language``
      is accepted but has no effect (the server stems and drops
      stopwords for language != "none");
    - diacritics: folded by default like the server
      (``$diacriticSensitive: false``) via the shared Latin fold table
      (:func:`_diacritic_fold_map` — query terms, document tokens, and
      DuckDB oracles all fold through the SAME literal pair;
      non-Latin-range marks are a documented deviation);
      ``$diacriticSensitive: true`` matches marks exactly;
    - score: the server's fts coefficient with field weight 1 —
      ``sum over matching terms of 0.5 * (tf / n_tokens) + 0.5`` —
      computed with one IEEE division per term (oracle-exact), exposed
      via ``{$meta: "textScore"}`` like the server.  No index-driven
      normalization is applied.

    Scale: per-row token expressions, no shuffle — the residual $match
    conjuncts AND the text predicate filter in the same scan.
    """
    from mongo_hadoop_spark.functions import tokenize

    match_spec = dict(match_spec)
    tspec = dict(match_spec.pop("$text"))
    if "$search" not in tspec:
        raise ValueError("$text needs {$search: <string>}")
    search = str(tspec.pop("$search"))
    path = tspec.pop("path", None)
    if not isinstance(path, str) or not path:
        raise ValueError(
            "$text needs the engine extension 'path' naming the text "
            "field (no server text index exists to resolve it from); "
            "e.g. {$text: {$search: 'spark -slow', path: 'text'}}")
    case_sensitive = bool(tspec.pop("$caseSensitive", False))
    tspec.pop("$language", None)  # accepted, no stemming (docstring)
    diacritic_sensitive = bool(tspec.pop("$diacriticSensitive", False))
    if tspec:
        raise ValueError(f"unsupported $text options {sorted(tspec)}")

    pos_terms, neg_terms, pos_phrases, neg_phrases = \
        _parse_text_search(search)
    fold_src, fold_dst = _diacritic_fold_map()
    fold_py = str.maketrans(fold_src, fold_dst)

    def norm(s: str) -> str:
        if not case_sensitive:
            s = s.lower()
        return s if diacritic_sensitive else s.translate(fold_py)

    col = F.col(path) if case_sensitive else F.lower(F.col(path))
    if not diacritic_sensitive:
        col = F.translate(col, fold_src, fold_dst)
    # r13 (guide §1.2 step 2): tokenize ONCE per row into a named
    # column — the r12 expression tree inlined the normalize+split
    # chain into every per-term tf of BOTH the match condition and the
    # score projection (up to 2·|terms| regex splits per row).  The
    # non-match residue (`rest`) is applied BELOW the token projection
    # so its predicates still push to the scan; the never-true
    # nondeterministic disjunct (the $geoNear barrier idiom) keeps the
    # token-match filter from being substituted back under the
    # projection.  Same expressions over the same tokens — matches and
    # scores are bit-identical.
    rest = match_to_col(match_spec) if match_spec else F.lit(True)
    words_col = "__text_ws"
    wdf = (df.where(F.coalesce(rest, F.lit(False)))
           .withColumn(words_col, tokenize(col)))
    words = F.col(words_col)
    n_tokens = F.size(words)

    def _eq(tok):
        # 1-arg closure (pyspark passes (element, index) to 2-arg
        # lambdas — a default-arg capture would become the index)
        return lambda w: w == F.lit(tok)

    def _phrase_hit(ph):
        # consecutive-token match: double-space joined stream, so a
        # phrase can never match across token boundaries (the $search
        # phrase operator's anchoring)
        needle = " " + "  ".join(norm(ph).split()) + " "
        stream = F.concat(F.lit("  "), F.concat_ws("  ", words),
                          F.lit("  "))
        return F.instr(stream, needle) > 0

    cond, score = None, None
    for t in dict.fromkeys(norm(t) for t in pos_terms):
        tf = F.size(F.filter(words, _eq(t)))
        hit = tf > 0
        contrib = F.when(
            hit,
            F.lit(0.5) * (tf.cast("double") / n_tokens.cast("double"))
            + F.lit(0.5)).otherwise(F.lit(0.0))
        cond = hit if cond is None else cond | hit
        score = contrib if score is None else score + contrib
    if cond is None:
        # only negations: the server returns no documents
        cond, score = F.lit(False), F.lit(0.0)
    for ph in pos_phrases:
        cond = cond & _phrase_hit(ph)
    for t in dict.fromkeys(norm(t) for t in neg_terms):
        cond = cond & ~(F.size(F.filter(words, _eq(t))) > 0)
    for ph in neg_phrases:
        cond = cond & ~_phrase_hit(ph)

    return (wdf.withColumn("__text_barrier__",
                           F.monotonically_increasing_id())
            .where(F.coalesce(cond, F.lit(False))
                   | (F.col("__text_barrier__") < 0))
            .drop("__text_barrier__")
            .withColumn(_TEXT_SCORE_COL, score.cast("double"))
            .drop(words_col))


def _stage_search(df: DataFrame, spec: dict) -> DataFrame:
    """``$search`` (Atlas Search): text / phrase / exists / equals /
    range / compound(must, should, mustNot, filter), relevance-ordered,
    score reachable via ``{$meta: "searchScore"}``.

    Scale: every operator compiles to per-row token expressions (no
    inverted index, no Python); the one shuffle is the relevance sort.
    At a true 100 TB text corpus the Lucene-index role is played by the
    store's zone-map segment pruning plus this residual match.
    """
    spec = {k: v for k, v in spec.items() if k != "index"}
    # tiebreak (engine extension, same contract as $vectorSearch's):
    # appended ascending to the relevance ordering so a downstream
    # $limit cut is a total order even on tied scores.
    tb = spec.pop("tiebreak", None) or []
    tiebreak = [F.col(c).asc() for c in ([tb] if isinstance(tb, str) else tb)]
    if len(spec) != 1:
        raise ValueError(
            "$search takes exactly one operator (text/phrase/compound/"
            "exists/equals/range/wildcard/regex/in/autocomplete)")
    (op, opspec), = spec.items()
    if op == "text" and opspec.get("bm25") not in (None, False):
        return _stage_search_text_bm25(df, opspec, tiebreak)
    highlight = None
    if isinstance(opspec, dict) and "highlight" in opspec:
        if op not in ("text", "phrase"):
            raise ValueError(
                "highlight is supported on the text/phrase operators")
        opspec = dict(opspec)
        hspec = opspec.pop("highlight")
        hpath = hspec["path"]
        if isinstance(hpath, list):
            raise ValueError("highlight supports a single path")
        terms = [t for t in str(opspec["query"]).lower().split() if t]
        fz = opspec.get("fuzzy")
        hl_edits = (int((fz or {}).get("maxEdits", 2))
                    if isinstance(fz, dict) else 2 if fz is True else None)
        highlight = (hpath, terms, hl_edits)
    cond, score = _search_clause(op, opspec)
    out = (df.where(F.coalesce(cond, F.lit(False)))
           .withColumn(_SEARCH_SCORE_COL, score.cast("double")))
    if highlight is not None:
        out = _with_highlight(out, *highlight)
    return out.orderBy(F.col(_SEARCH_SCORE_COL).desc(), *tiebreak)


def _stage_search_text_bm25(df: DataFrame, spec: dict,
                            tiebreak: list = ()) -> DataFrame:
    """BM25-scored ``$search`` text clause — the Atlas/Lucene scoring
    model, opted into with ``{"text": {..., "bm25": true}}`` (the plain
    clause keeps the raw-tf scoring its oracles pin).

    Corpus statistics (N, Σdl, per-query-term df) play the role of the
    Lucene index: ONE map-side-partial aggregation over the input,
    broadcast back as a 1-row scalar join (the PQ-codebook pattern) — the
    stage is two scans and zero extra shuffles at any corpus size.

    Cross-engine exactness (the oracle gate hashes doubles bit-for-bit):
    with the default k1 = 6/5 and b = 3/4 the per-term weight
        tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl)),  avgdl = TL/N
    integer-scales by 20·TL into
        44·tf·TL / (20·tf·TL + 6·TL + 18·dl·N)
    — ONE bigint/bigint IEEE division per term (exact in any engine).
    Lucene's idf  ln(1 + u),  u = (N − df + ½)/(df + ½) = (2N−2df+1)/(2df+1)
    is replaced by the rational surrogate  u  itself — IEEE ln() is not
    bit-identical across engines (operators/lm.py:10-24), and whole-bit
    quantization (the lm.py fix) floors common-term idf to 0; u is ONE
    bigint/bigint division, strictly monotone in the true idf (identical
    per-term ranking; multi-term sums weight rare terms up vs ln —
    documented deviation).  Custom k1/b are refused (the integer scaling
    is derived for the defaults).  Safe up to ~10^12 total tokens before
    20·tf·TL nears bigint range.
    """
    if spec.get("bm25") is not True and spec.get("bm25") != {}:
        raise ValueError(
            "bm25 takes no parameters (k1=1.2, b=0.75 fixed — the "
            "integer-exact scaling is derived for the defaults)")
    path = spec["path"]
    if isinstance(path, list):
        raise ValueError("bm25 text scoring supports a single path")
    from mongo_hadoop_spark.functions import tokenize

    terms = list(dict.fromkeys(
        t for t in str(spec["query"]).lower().split() if t))
    if not terms:
        raise ValueError("bm25 text clause needs a non-empty query")

    def _eq(tok):
        return lambda w: w == F.lit(tok)

    # r13 (guide §1.2 step 2): tokenize ONCE per row into a named
    # column and derive dl + per-term tf from it — the r12 expression
    # tree inlined tokenize() into every per-term tf in BOTH the stats
    # aggregation and the scoring projection (1 + |terms| regex splits
    # per row per subtree).  CollapseProject keeps the split
    # un-inlined (multi-referenced non-cheap alias), so each subtree
    # pays exactly one tokenization per row now.  Same expressions over
    # the same tokens — counts, stats and scores are bit-identical.
    words_col = "__bm25_ws"
    tfd = df.withColumn(words_col, tokenize(F.lower(F.col(path))))
    ws = F.col(words_col)
    dl = F.size(ws).cast("long")

    def _tf(tok):
        return F.size(F.filter(ws, _eq(tok))).cast("long")

    stats_aggs = [F.count(F.lit(1)).cast("long").alias("__bm25_n"),
                  F.sum(dl).alias("__bm25_tl")]
    for i, t in enumerate(terms):
        stats_aggs.append(
            F.sum((_tf(t) > 0).cast("long")).alias(f"__bm25_df_{i}"))
    stats = tfd.agg(*stats_aggs)
    out = tfd.crossJoin(F.broadcast(stats))
    n, tl = F.col("__bm25_n"), F.col("__bm25_tl")
    score, any_tf = None, None
    for i, t in enumerate(terms):
        tf = _tf(t)
        dfreq = F.col(f"__bm25_df_{i}")
        idf = ((n * 2 - dfreq * 2 + 1).cast("double")
               / (dfreq * 2 + 1).cast("double"))
        num = (F.lit(44).cast("long") * tf * tl).cast("double")
        den = (F.lit(20).cast("long") * tf * tl + F.lit(6).cast("long") * tl
               + F.lit(18).cast("long") * dl * n).cast("double")
        term_score = idf * (num / den)
        score = term_score if score is None else score + term_score
        any_tf = tf if any_tf is None else any_tf + tf
    helper = [words_col, "__bm25_n", "__bm25_tl"] + [
        f"__bm25_df_{i}" for i in range(len(terms))]
    # pushdown barrier (the $geoNear idiom): without it the any_tf
    # match filter is substituted below the token projection and every
    # row re-tokenizes inside the Filter as well
    return (out.withColumn("__bm25_barrier__",
                           F.monotonically_increasing_id())
            .where((any_tf > 0) | (F.col("__bm25_barrier__") < 0))
            .drop("__bm25_barrier__")
            .withColumn(_SEARCH_SCORE_COL, score.cast("double"))
            .drop(*helper)
            .orderBy(F.col(_SEARCH_SCORE_COL).desc(), *tiebreak))


def _stage_search_meta(df: DataFrame, spec: dict) -> DataFrame:
    """``$searchMeta`` (Atlas Search): metadata-only search — the
    ``count`` and ``facet`` collectors, returned as ONE document.

    Forms:
    - ``{$searchMeta: {<search operator>, count: {type}}}`` → one row
      ``count: struct<total|lowerBound: long>`` (we always count
      exactly; ``lowerBound`` — Atlas's default — is the same number
      under exact counting).
    - ``{$searchMeta: {facet: {operator?, facets: {...}}}}`` → one row
      with ``count`` plus ``facet: struct<name: struct<buckets:
      array<struct<_id: string, count: long>>>>``.  String facets:
      top ``numBuckets`` (default 10) values by (count DESC, _id ASC —
      the deterministic tiebreak Atlas leaves unspecified).  Number
      facets: half-open ``[b_i, b_{i+1})`` buckets keyed by the lower
      boundary, values outside the range falling to the ``default``
      bucket when named; empty buckets are omitted (group-by
      semantics).  Bucket ``_id`` is emitted as STRING in both facet
      kinds so the schema is type-stable (documented deviation from
      the server's heterogeneous _id).

    Scale: each collector is one aggregation over the matched scan —
    string facets are top-k inside a single per-facet hash aggregate
    (sort_array + slice over the collected bucket structs: the bucket
    table is cardinality-bounded, never row-proportional), and the
    1-row collector outputs combine by broadcast scalar joins.
    """
    spec = {k: v for k, v in spec.items() if k != "index"}
    count_opt = spec.pop("count", None)
    ctype = (count_opt or {}).get("type", "lowerBound")
    if ctype not in ("total", "lowerBound"):
        raise ValueError(f"unsupported $searchMeta count.type {ctype!r}")
    if len(spec) != 1:
        raise ValueError(
            "$searchMeta takes exactly one collector (facet) or operator")
    (op, opspec), = spec.items()

    def _count_struct(matched: DataFrame) -> DataFrame:
        return matched.agg(
            F.count(F.lit(1)).cast("long").alias("__n")
        ).select(F.struct(F.col("__n").alias(ctype)).alias("count"))

    if op != "facet":
        cond, _score = _search_clause(op, opspec)
        return _count_struct(df.where(F.coalesce(cond, F.lit(False))))

    facets = opspec.get("facets")
    if not isinstance(facets, dict) or not facets:
        raise ValueError("$searchMeta facet needs {facets: {name: spec}}")
    operator = opspec.get("operator")
    matched = df
    if operator is not None:
        (fop, fspec), = operator.items()
        cond, _score = _search_clause(fop, fspec)
        matched = df.where(F.coalesce(cond, F.lit(False)))

    out = _count_struct(matched)
    facet_cols = []
    for name, fs in facets.items():
        ftype, path = fs.get("type"), fs.get("path")
        if ftype == "string":
            k = int(fs.get("numBuckets", 10))
            b = (matched.groupBy(F.col(path).cast("string").alias("_id"))
                 .agg(F.count(F.lit(1)).cast("long").alias("count")))
            one = b.agg(F.slice(F.array_sort(F.collect_list(F.struct(
                (-F.col("count")).alias("__nc"), F.col("_id"),
                F.col("count")))), 1, k).alias("__bs"))
            one = one.select(F.struct(
                F.transform("__bs", lambda s: F.struct(
                    s["_id"].alias("_id"), s["count"].alias("count")))
                .alias("buckets")).alias(f"__f_{name}"))
        elif ftype == "number":
            bounds = fs.get("boundaries")
            if (not isinstance(bounds, list) or len(bounds) < 2
                    or bounds != sorted(bounds)):
                raise ValueError(
                    f"$searchMeta number facet {name!r} needs ascending "
                    "boundaries (>= 2)")
            default = fs.get("default")
            bucket = None
            expr = F.when(F.col(path).isNull(), F.lit(None))
            for lo, hi in zip(bounds, bounds[1:]):
                expr = expr.when(
                    (F.col(path) >= F.lit(lo)) & (F.col(path) < F.lit(hi)),
                    F.lit(str(lo)))
            bucket = expr.otherwise(
                F.lit(default) if default is not None else F.lit(None))
            b = (matched.select(bucket.alias("_id"))
                 .where(F.col("_id").isNotNull())
                 .groupBy("_id")
                 .agg(F.count(F.lit(1)).cast("long").alias("count")))
            one = b.agg(F.array_sort(F.collect_list(F.struct(
                F.col("_id"), F.col("count")))).alias("__bs"))
            one = one.select(
                F.struct(F.col("__bs").alias("buckets")).alias(f"__f_{name}"))
        else:
            raise ValueError(
                f"$searchMeta facet {name!r}: type must be string|number "
                "(date facets need a date corpus column)")
        facet_cols.append((name, one))
    for _name, one in facet_cols:
        out = out.crossJoin(F.broadcast(one))
    return out.select(
        "count",
        F.struct(*[F.col(f"__f_{n}").alias(n) for n, _ in facet_cols])
        .alias("facet"))


def _stage_vector_search(df: DataFrame, spec: dict) -> DataFrame:
    """``$vectorSearch`` (Atlas Vector Search) — the server's ANN stage
    compiled onto an exact top-k scoring plan.

    Supported: ``path``, ``queryVector``, ``limit``, ``filter`` (Atlas
    pre-filter → ``match_to_col``), ``similarity`` (cosine | dotProduct |
    euclidean — an explicit option here because the Atlas *index*
    definition that normally carries it is out of scope), ``index`` and
    ``numCandidates`` (accepted, ignored), ``exact`` (we always rank
    exactly).  Scores use Atlas's normalizations: cosine/dotProduct →
    (1 + s) / 2, euclidean → 1 / (1 + d).

    Honest ANN note: Atlas trades recall for latency via numCandidates;
    here ordering by score + limit plans as TakeOrderedAndProject —
    per-partition top-k then a k-sized merge, no global sort, recall 1.0.
    The bucketed sub-linear paths live in operators/similarity.py
    (ivf_knn / pq_knn_adc); this stage is the pipeline-language surface.
    The score is reachable downstream via {$meta: "vectorSearchScore"}.

    ``tiebreak`` (engine extension, like $rankFusion's ``key``): field
    name(s) appended ascending to the score ordering so the top-k CUT is
    a total order.  Without it, score ties at the limit boundary keep an
    engine-/partitioning-dependent row set — the server's internal-order
    tiebreak is equally undefined, but a reproducible pipeline (and any
    oracle comparison) needs the cut pinned.
    """
    from mongo_hadoop_spark.functions import dot, norm2

    # index / numCandidates / exact are Atlas ANN tuning arguments: this
    # stage always searches exactly (recall 1.0 — see the docstring), so
    # they are ACCEPTED no-ops (every Atlas query carries them); truly
    # unknown keys refuse (r12 audit)
    _check_spec_keys("$vectorSearch", spec,
                     {"path", "queryVector", "limit", "filter",
                      "similarity", "tiebreak", "index", "numCandidates",
                      "exact"})
    path, qv = spec["path"], spec["queryVector"]
    limit = int(spec["limit"])
    tb = spec.get("tiebreak") or []
    tiebreak = [F.col(c).asc() for c in ([tb] if isinstance(tb, str) else tb)]
    sim_kind = spec.get("similarity", "cosine")
    out = df.where(match_to_col(spec["filter"])) if spec.get("filter") else df
    q = _array_literal(qv)
    v = F.col(path)
    if sim_kind == "cosine":
        score = (F.lit(1.0)
                 + dot(q, v) / (F.sqrt(norm2(q)) * F.sqrt(norm2(v)))) / 2
    elif sim_kind == "dotProduct":
        score = (F.lit(1.0) + dot(q, v)) / 2
    elif sim_kind == "euclidean":
        d2 = F.aggregate(
            F.zip_with(q, v, lambda x, y: (x.cast("double") - y.cast("double"))
                       * (x.cast("double") - y.cast("double"))),
            F.lit(0.0), lambda acc, x: acc + x)
        score = F.lit(1.0) / (F.lit(1.0) + F.sqrt(d2))
    else:
        raise ValueError(f"unsupported $vectorSearch similarity {sim_kind!r}")
    return (out.withColumn(_VS_SCORE_COL, score)
            .orderBy(F.col(_VS_SCORE_COL).desc(), *tiebreak)
            .limit(limit))


def _geo_tiebreak_cols(out: DataFrame, dist_field: str,
                       spec: dict | None = None) -> list:
    """Deterministic secondary sort key for $geoNear's distance order.

    MongoDB leaves equal-distance order unspecified; synthesized
    coordinates collide routinely (lat from ``user_id % 181``), so
    without a tiebreak the relative order of tied rows depends on the
    shuffle schedule.  The tiebreak is EXACTLY ONE explicitly chosen
    column (pinned contract, r7 advisor): the engine extension
    ``tiebreak: <field>`` on the $geoNear spec, defaulting to the FIRST
    atomic-typed column in schema order (array/struct/map skipped —
    maps are unorderable).  That column MUST be unique and non-null —
    with ties or NULLs the order would silently diverge across engines
    (Spark sorts NULLS FIRST ascending, DuckDB NULLS LAST), which is
    why the old behavior of appending *every* atomic column was a trap.
    Oracles append exactly the same single column after ``dist``
    (every registered gate's first atomic column is its unique id)."""
    skip = {_GEO_DIST_COL, _GEO_H_COL, dist_field}
    if spec and "tiebreak" in spec:
        name = spec["tiebreak"]
        if name not in out.columns:
            raise ValueError(f"$geoNear tiebreak column {name!r} not found")
        return [F.col(name).asc()]
    for f in out.schema.fields:
        if f.name in skip:
            continue
        if f.dataType.typeName() in ("array", "map", "struct"):
            continue
        return [F.col(f.name).asc()]
    return []


def _stage_geo_near(df: DataFrame, spec: dict) -> DataFrame:
    """``$geoNear`` with legacy planar (2d) coordinates.

    ``key`` names an ``array<double>`` [x, y] column (the server reads it
    off the 2d index; a pipeline gate can project one first).  ``query``
    pre-filters, ``minDistance``/``maxDistance`` bound the planar
    distance, ``distanceMultiplier`` scales the reported value, and docs
    come back distance-ascending with ``distanceField`` set.

    ``spherical: true`` runs the deterministic-polynomial haversine of
    plans/trig.py on legacy [lon, lat] degree pairs and reports the
    distance in RADIANS (the server's semantics for legacy pairs; pair
    with ``distanceMultiplier`` = earth radius for meters).  min/max
    bounds are in radians and are applied to the monotone h-kernel
    against driver-computed sin^2(r/2) literal thresholds — so the range
    filter AND the ascending sort both run on the asin-free kernel, and
    only surviving rows pay the polynomial asin for the reported value.
    (Boundary rows compare against the math.sin threshold, identically
    in both engines; the reported distance may differ from the bound by
    the < 1e-11 polynomial error there.)

    A GeoJSON ``near`` point ({type: "Point", coordinates: [lon, lat]})
    implies spherical and switches the unit contract to METERS (the
    server's GeoJSON semantics): min/max bounds are meters (converted
    to radians against MongoDB's 6378100 m legacy earth radius before
    the kernel threshold), and the reported distance is meters before
    any ``distanceMultiplier``.

    Scale: distance is a per-row expression; the one shuffle is the
    ascending range sort, and min/max bounds filter *before* it.
    """
    _check_spec_keys("$geoNear", spec,
                     {"near", "distanceField", "key", "query", "spherical",
                      "minDistance", "maxDistance", "distanceMultiplier"})
    near = spec["near"]
    geojson = isinstance(near, dict)
    if geojson:
        if near.get("type") != "Point":
            raise ValueError("$geoNear GeoJSON near must be a Point")
        near = near["coordinates"]
    if not (isinstance(near, (list, tuple)) and len(near) == 2):
        raise ValueError("$geoNear near must be a [x, y] point")
    key = spec.get("key")
    if not key:
        raise ValueError("$geoNear needs key: the [x, y] coordinate field")
    dist_field = spec["distanceField"]
    out = df.where(match_to_col(spec["query"])) if spec.get("query") else df
    x, y = F.col(key).getItem(0), F.col(key).getItem(1)  # see _geo_within
    qx, qy = F.lit(float(near[0])), F.lit(float(near[1]))
    if geojson or spec.get("spherical"):
        from mongo_hadoop_spark.plans.trig import (
            EARTH_RADIUS_M, asin_col, center_sphere_threshold,
            haversine_h_col)
        bound_scale = EARTH_RADIUS_M if geojson else 1.0
        h = haversine_h_col(x, y, qx, qy)
        out = out.withColumn(_GEO_H_COL, h)
        # r12 optimization: the same pushdown barrier as
        # pipeline_geo_intersects (operators/mongoagg.py) — without it
        # PushPredicateThroughNonJoin substitutes the ~40-term haversine
        # polynomial into the range condition, so every row evaluates
        # the kernel in the Filter AND again in the distance Project.
        # The never-true nondeterministic disjunct keeps the kernel a
        # materialized column consumed by attribute — one evaluation
        # per row, same rows out (monotonically_increasing_id() >= 0
        # always).
        bound = None
        if "maxDistance" in spec:
            bound = (F.col(_GEO_H_COL) <= F.lit(
                center_sphere_threshold(
                    float(spec["maxDistance"]) / bound_scale)))
        if "minDistance" in spec:
            lo = (F.col(_GEO_H_COL) >= F.lit(
                center_sphere_threshold(
                    float(spec["minDistance"]) / bound_scale)))
            bound = lo if bound is None else (bound & lo)
        if bound is not None:
            out = (out.withColumn("__geo_barrier__",
                                  F.monotonically_increasing_id())
                   .where(bound | (F.col("__geo_barrier__") < 0))
                   .drop("__geo_barrier__"))
        dist = F.lit(2.0) * asin_col(
            F.sqrt(F.least(F.col(_GEO_H_COL), F.lit(1.0))))
        if geojson:
            dist = dist * F.lit(EARTH_RADIUS_M)
        out = out.withColumn(_GEO_DIST_COL, dist).drop(_GEO_H_COL)
        reported = F.col(_GEO_DIST_COL) * float(spec["distanceMultiplier"]) \
            if "distanceMultiplier" in spec else F.col(_GEO_DIST_COL)
        out = out.withColumn(dist_field, reported)
        return out.orderBy(F.col(_GEO_DIST_COL).asc(),
                           *_geo_tiebreak_cols(out, dist_field, spec))
    dist = F.sqrt((x - qx) * (x - qx) + (y - qy) * (y - qy))
    out = out.withColumn(_GEO_DIST_COL, dist)
    if "maxDistance" in spec:
        out = out.where(F.col(_GEO_DIST_COL) <= float(spec["maxDistance"]))
    if "minDistance" in spec:
        out = out.where(F.col(_GEO_DIST_COL) >= float(spec["minDistance"]))
    reported = F.col(_GEO_DIST_COL) * float(spec["distanceMultiplier"]) \
        if "distanceMultiplier" in spec else F.col(_GEO_DIST_COL)
    out = out.withColumn(dist_field, reported)
    return out.orderBy(F.col(_GEO_DIST_COL).asc(),
                       *_geo_tiebreak_cols(out, dist_field, spec))


#: fixed RRF rank constant — the server's value (not a $rankFusion knob)
_RRF_K = 60


def _ranked_subpipeline(df: DataFrame, name: str, stages: list[dict],
                        tables) -> tuple[DataFrame, list, bool]:
    """Run one fusion input pipeline; returns (result incl. hidden score
    columns, ranking order, candidate-bounded?).

    The server restricts fusion inputs to *ranked pipelines* — $search /
    $vectorSearch / $geoNear heads or a pipeline ending in $sort — and so
    do we: those are the only shapes whose ordering is recoverable for
    rank assignment.  ``bounded`` reports whether a $limit (or
    $vectorSearch's mandatory limit) caps the candidate set — the rank
    window is a single-partition top-k sort, so unbounded inputs are
    refused by $rankFusion/$scoreFusion at plan time rather than melting
    an executor at corpus scale.
    """
    if not stages:
        raise ValueError(f"fusion input pipeline {name!r} is empty")
    (first, _), = stages[0].items()
    out = _aggregate_impl(df, stages, tables=tables)
    # a $limit bounds the candidate set only if no row-multiplying stage
    # follows it — [{$limit: 100}, {$unwind: ...}] is NOT bounded
    multipliers = {"$unwind", "$graphLookup", "$unionWith", "$lookup",
                   "$facet", "$densify"}
    last_limit = max((i for i, s in enumerate(stages) if "$limit" in s),
                     default=None)
    has_limit = last_limit is not None and not any(
        set(s) & multipliers for s in stages[last_limit + 1:])
    if first == "$vectorSearch":
        return out, [F.col(_VS_SCORE_COL).desc()], True
    if first == "$search":
        return out, [F.col(_SEARCH_SCORE_COL).desc()], has_limit
    if first == "$geoNear":
        return out, [F.col(_GEO_DIST_COL).asc()], has_limit
    # generic ranked pipeline: trailing $sort (optionally + $limit)
    sort_stage = None
    for s in stages:
        if "$sort" in s:
            sort_stage = s["$sort"]
    if sort_stage is None:
        raise ValueError(
            f"fusion input pipeline {name!r} must be a ranked pipeline "
            "($search/$vectorSearch/$geoNear head, or contain $sort)")
    order = [F.col(k).desc() if v == -1 else F.col(k).asc()
             for k, v in sort_stage.items()]
    return out, order, has_limit


def _fusion_inputs(df: DataFrame, spec: dict, tables, stage: str,
                   ) -> tuple[dict, dict, list[str], list]:
    """Shared $rankFusion/$scoreFusion plumbing: validate the spec and
    run every input pipeline.  Returns (pipelines, weights, keys, runs)
    with runs = [(name, result_df, order, score_col)].

    ``key`` is an engine extension: the column(s) that identify a
    document (the server fuses on internal document identity; our
    DataFrames are schemaful, so identity must be named).
    """
    pipes = (spec.get("input") or {}).get("pipelines")
    if not isinstance(pipes, dict) or not pipes:
        raise ValueError(f"{stage} needs input.pipelines: {{name: [...]}}")
    keys = spec.get("key")
    if not keys:
        raise ValueError(
            f"{stage} needs key: the document-identity column(s) "
            "(engine extension — the server uses internal doc identity)")
    keys = [keys] if isinstance(keys, str) else list(keys)
    weights = (spec.get("combination") or {}).get("weights") or {}
    unknown = set(weights) - set(pipes)
    if unknown:
        raise ValueError(f"{stage} weights for unknown pipelines: "
                         f"{sorted(unknown)}")
    score_cols = {"$vectorSearch": _VS_SCORE_COL, "$search": _SEARCH_SCORE_COL,
                  "$geoNear": _GEO_DIST_COL}
    runs = []
    for name, stages in pipes.items():
        sub, order, bounded = _ranked_subpipeline(df, name, stages, tables)
        if not bounded:
            raise ValueError(
                f"{stage} input pipeline {name!r} is not candidate-bounded"
                " — add a $limit (the rank window is a single-partition"
                " top-k; unbounded inputs do not scale)")
        (first, _), = stages[0].items()
        runs.append((name, sub, order, score_cols.get(first)))
    return pipes, weights, keys, runs


def _stage_rank_fusion(df: DataFrame, spec: dict, tables) -> DataFrame:
    """``$rankFusion`` (Mongo 8.0) — reciprocal-rank-fusion hybrid
    search: each input pipeline ranks documents its own way and a
    document's fused score is  Σ_p weight_p / (60 + rank_p)  over the
    pipelines that returned it; the fused score is reachable downstream
    via ``{$meta: "score"}``.

    Plan shape: every input pipeline is already candidate-bounded
    (enforced), so each rank window is a single-partition sort of ≤ k
    rows; the per-pipeline rank sets full-outer-join on the document
    key (k-row inputs), and the fused k-row score table broadcast-joins
    back to the source — no corpus-sized shuffle anywhere.

    Determinism deviation (documented): the server breaks rank ties by
    internal document order, which no engine can reproduce; here tied
    scores share a rank (SQL ``rank()``), identical on any engine and
    partitioning.
    """
    from pyspark.sql import Window

    _, weights, keys, runs = _fusion_inputs(df, spec, tables, "$rankFusion")
    fused = None
    for i, (name, sub, order, _score_col) in enumerate(runs):
        w = Window.orderBy(*order)
        r = sub.select(*keys, F.rank().over(w).alias(f"__rank_{i}"))
        fused = r if fused is None else fused.join(r, keys, "full_outer")
    score = None
    for i, (name, *_rest) in enumerate(runs):
        wgt = float(weights.get(name, 1))
        contrib = F.when(F.col(f"__rank_{i}").isNull(), F.lit(0.0)).otherwise(
            F.lit(wgt) / (F.lit(_RRF_K) + F.col(f"__rank_{i}")).cast("double"))
        score = contrib if score is None else score + contrib
    scores = fused.select(*keys, score.alias(_FUSION_SCORE_COL))
    return (df.join(F.broadcast(scores), keys, "inner")
            .orderBy(F.col(_FUSION_SCORE_COL).desc()))


def _stage_score_fusion(df: DataFrame, spec: dict, tables) -> DataFrame:
    """``$scoreFusion`` (Mongo 8.1) — score-based hybrid search: each
    input pipeline's raw relevance score is normalized
    (``minMaxScaler`` | ``sigmoid`` | ``none``), then combined — the
    default weighted average over ALL input pipelines, or an arbitrary
    ``combination.expression`` with the pipeline names bound as
    ``$$variables`` (a document missing from a pipeline contributes 0
    either way); reachable downstream via ``{$meta: "score"}``.

    Input pipelines must be *scored* ($search or $vectorSearch heads —
    $geoNear/$sort pipelines rank but carry no relevance score).
    minMaxScaler's constant-score edge (max == min) maps to 0.
    Exactness note: minMaxScaler and the weighted average are pure IEEE
    arithmetic on already-deterministic scores (oracle-gateable);
    sigmoid goes through ``exp()``, which is NOT bit-identical across
    engines — fine for ranking, checked with tolerance in pytest.

    Plan shape mirrors $rankFusion: bounded candidate sets, 1-row
    broadcast min/max stats per pipeline, k-row full-outer fuse, one
    broadcast join back to the source.
    """
    norm = (spec.get("input") or {}).get("normalization", "none")
    if norm not in ("none", "sigmoid", "minMaxScaler"):
        raise ValueError(f"unsupported $scoreFusion normalization {norm!r}")
    comb = spec.get("combination") or {}
    method = comb.get("method", "avg")
    if method not in ("avg", "expression"):
        raise ValueError("$scoreFusion supports combination.method "
                         "'avg' | 'expression'")
    if method == "expression" and "expression" not in comb:
        raise ValueError("combination.method 'expression' needs "
                         "combination.expression")
    if method == "expression" and comb.get("weights"):
        raise ValueError("combination.weights and combination.expression "
                         "are mutually exclusive (server rule)")
    _, weights, keys, runs = _fusion_inputs(df, spec, tables, "$scoreFusion")
    fused = None
    for i, (name, sub, _order, score_col) in enumerate(runs):
        if score_col is None or score_col == _GEO_DIST_COL:
            raise ValueError(
                f"$scoreFusion input pipeline {name!r} must be scored "
                "($search or $vectorSearch head)")
        s = sub.select(*keys, F.col(score_col).alias(f"__s_{i}"))
        if norm == "minMaxScaler":
            stats = s.agg(F.min(f"__s_{i}").alias(f"__lo_{i}"),
                          F.max(f"__s_{i}").alias(f"__hi_{i}"))
            s = (s.crossJoin(F.broadcast(stats))
                 .select(*keys,
                         F.when(F.col(f"__hi_{i}") == F.col(f"__lo_{i}"),
                                F.lit(0.0))
                         .otherwise((F.col(f"__s_{i}") - F.col(f"__lo_{i}"))
                                    / (F.col(f"__hi_{i}")
                                       - F.col(f"__lo_{i}")))
                         .alias(f"__s_{i}")))
        elif norm == "sigmoid":
            s = s.select(*keys, (F.lit(1.0)
                                 / (F.lit(1.0) + F.exp(-F.col(f"__s_{i}"))))
                         .alias(f"__s_{i}"))
        fused = s if fused is None else fused.join(s, keys, "full_outer")
    if method == "expression":
        # pipeline names bind as $$variables over the normalized scores
        # (missing ⇒ 0, like avg), e.g.
        # {$add: [{$multiply: ["$$vector", 10]}, "$$text"]}
        env = {name: F.coalesce(F.col(f"__s_{i}"), F.lit(0.0))
               for i, (name, *_rest) in enumerate(runs)}
        score = expr_to_col(comb["expression"], env).cast("double")
    else:
        score = None
        for i, (name, *_rest) in enumerate(runs):
            wgt = float(weights.get(name, 1))
            contrib = F.lit(wgt) * F.coalesce(F.col(f"__s_{i}"), F.lit(0.0))
            score = contrib if score is None else score + contrib
        score = score / F.lit(float(len(runs)))
    scores = fused.select(*keys, score.alias(_FUSION_SCORE_COL))
    return (df.join(F.broadcast(scores), keys, "inner")
            .orderBy(F.col(_FUSION_SCORE_COL).desc()))


def _sort_limit_movable(op: str, sp, keys: list[str]) -> bool:
    """May [$sort(keys), $limit] move BELOW this stage?  True only for
    cardinality-preserving stages that pass every sort key through
    unchanged — the same dependency analysis the server's pipeline
    optimizer runs before reordering $sort."""
    if op == "$lookup":
        return isinstance(sp, dict) and sp.get("as") not in keys
    if op in ("$addFields", "$set"):
        return (isinstance(sp, dict) and not (set(sp) & set(keys))
                and not any("." in k for k in sp))
    if op == "$unset":
        fields = [sp] if isinstance(sp, str) else list(sp)
        return not (set(fields) & set(keys))
    if op == "$project":
        if not isinstance(sp, dict) or not sp:
            return False
        vals = {k: v for k, v in sp.items() if k != "_id"}
        if vals and all(v in (0, False) for v in vals.values()):
            return not (set(vals) & set(keys))  # exclusion form
        return all(sp.get(k) in (1, True) for k in keys)  # pass-through
    return False


def _push_sort_limit(pipeline: list[dict]) -> list[dict]:
    """Server-style pipeline reordering (Mongo's documented "$sort +
    $limit coalescence" extended with its dependency analysis): a
    ``$sort`` immediately followed by ``$limit`` moves below any run of
    cardinality-preserving stages that pass the sort keys through
    unchanged ($lookup, $addFields/$set, $unset, pass-through $project).

    Why it matters at scale: compiled naively, ``... $lookup → $project
    → $sort(key) → $limit n`` builds the joined arrays for EVERY input
    row and then global-sorts them; moved below the $lookup the pair
    compiles to a TakeOrderedAndProject over the small pre-join row
    set, and only the surviving n rows pay the join and projection.
    A re-sort stays at the original position — over ≤ n rows, trivial —
    because Spark joins do not preserve row order the way the server's
    per-document $lookup loop does, and $lookup output order is
    user-visible.

    Only plain single-segment integer-direction sort keys move ($meta
    and dotted-path sorts stay put).  Pure reordering of the stage
    list — stage documents are not rewritten."""
    stages = list(pipeline)
    changed = True
    while changed:
        changed = False
        for j in range(1, len(stages) - 1):
            st, nxt = stages[j], stages[j + 1]
            if not (len(st) == 1 and "$sort" in st
                    and len(nxt) == 1 and "$limit" in nxt):
                continue
            spec = st["$sort"]
            if not isinstance(spec, dict) or not spec:
                continue
            if not all(isinstance(d, int) and not isinstance(d, bool)
                       for d in spec.values()):
                continue
            keys = list(spec)
            if any("." in k or k.startswith("$") for k in keys):
                continue
            k = j
            while k > 0 and len(stages[k - 1]) == 1:
                (op, sp), = stages[k - 1].items()
                if not _sort_limit_movable(op, sp, keys):
                    break
                k -= 1
            if k < j:
                moved = stages[:k] + [st, nxt] + stages[k:j] + stages[j + 2:]
                moved.insert(j + 2, {"$sort": dict(spec)})  # ≤ n-row re-sort
                stages = moved
                changed = True
                break
    return stages


def _resolve_percentile_accuracy(df: DataFrame,
                                 percentile_accuracy) -> int | None:
    """Per-call ``percentile_accuracy`` wins; else the Spark conf
    ``spark.mongo_hadoop_spark.percentileAccuracy`` (unset/""/"exact" →
    exact discrete mode).  Returns the approx accuracy or None."""
    if percentile_accuracy is not None:
        acc = int(percentile_accuracy)
        if acc <= 0:
            raise ValueError("percentile_accuracy must be a positive int")
        return acc
    try:
        conf = df.sparkSession.conf.get(PERCENTILE_ACCURACY_CONF, None)
    except Exception:
        conf = None
    if conf in (None, "", "exact"):
        return None
    acc = int(conf)
    if acc <= 0:
        raise ValueError(f"{PERCENTILE_ACCURACY_CONF} must be a positive int")
    return acc


def aggregate(df: DataFrame, pipeline: list[dict],
              tables: dict[str, DataFrame] | None = None,
              store_path: str | None = None,
              client_factory: str | None = None,
              spool_path: str | None = None,
              percentile_accuracy: int | None = None) -> DataFrame:
    """Run an aggregation pipeline against ``df``; returns the result
    DataFrame (lazy — Catalyst sees the whole compiled plan).  ``$out`` /
    ``$merge`` terminal stages write to the document store at
    ``store_path`` (eager, like the server).  ``store_path`` may also be
    a ``mongodb://`` URI — then $out streams per-task insert batches
    through the live datasource writer and $merge bulk-replays a
    journaled mutation spool (``spool_path``) via the live committer;
    ``client_factory`` is the importable ``module:callable`` executors
    use to resolve a client from the URI.

    ``percentile_accuracy`` selects the production percentile mode for
    $median/$percentile/$bucketAuto in this pipeline: ``None`` (default)
    keeps exact discrete semantics, an int compiles them to
    ``approx_percentile`` with that accuracy (mergeable bounded-state GK
    summary — the 100 TB path; see the ``_APPROX_PCTL`` module note).
    The Spark conf ``spark.mongo_hadoop_spark.percentileAccuracy``
    provides a session-wide default when the argument is omitted."""
    import itertools

    token = _APPROX_PCTL.set(
        _resolve_percentile_accuracy(df, percentile_accuracy))
    # seed the $rand occurrence sequence only at the OUTERMOST aggregate:
    # $facet/$lookup/$unionWith sub-pipelines recurse through aggregate(),
    # and resetting here would restart their $rand sites at index 0 —
    # sibling branches would then draw correlated values (the exact
    # defect the occurrence salt exists to prevent)
    rand_token = (_RAND_SEQ.set(itertools.count())
                  if _RAND_SEQ.get() is None else None)
    cols_token = _STAGE_COLUMNS.set(_STAGE_COLUMNS.get())
    try:
        out = _aggregate_impl(df, _push_sort_limit(pipeline),
                              tables=tables, store_path=store_path,
                              client_factory=client_factory,
                              spool_path=spool_path)
    finally:
        if rand_token is not None:
            _RAND_SEQ.reset(rand_token)
        _APPROX_PCTL.reset(token)
        # restore the caller's $$ROOT scope: a nested aggregate() (e.g.
        # a $lookup sub-pipeline compile) must not leak its column list
        # into the stages the OUTER loop compiles next
        _STAGE_COLUMNS.reset(cols_token)
    for hidden in (_VS_SCORE_COL, _GEO_DIST_COL, _SEARCH_SCORE_COL,
                   _SEARCH_HIGHLIGHTS_COL, _TEXT_SCORE_COL,
                   _FUSION_SCORE_COL):
        if hidden in out.columns:
            out = out.drop(hidden)
    return out


def _aggregate_impl(df: DataFrame, pipeline: list[dict],
                    tables: dict[str, DataFrame] | None = None,
                    store_path: str | None = None,
                    client_factory: str | None = None,
                    spool_path: str | None = None) -> DataFrame:
    """``aggregate`` minus the final hidden-column strip — the fusion
    stages run their input pipelines through this so the ranking
    metadata ($search/$vectorSearch/$geoNear score columns) survives
    for rank assignment."""
    out = df
    # compile-time row-count upper bound of `out`, propagated through
    # bound-preserving stages — lets $lookup prefilter its foreign side
    # when the parent is provably small (e.g. after a pushed-down
    # $sort+$limit).  None = unbounded.
    bound: int | None = None
    _BOUND_KEEPERS = {"$match", "$project", "$addFields", "$set", "$unset",
                      "$sort", "$skip", "$lookup", "$redact", "$sample",
                      "$geoNear", "$limit", "$graphLookup", "$fill"}
    for i, stage in enumerate(pipeline):
        (op, spec), = stage.items()
        # bind $$ROOT/$$CURRENT for this stage's expression compiles:
        # the whole input document as one struct (internal "__"-prefixed
        # metadata columns excluded).  Nested aggregate() calls ($lookup
        # sub-pipelines, $facet, $unionWith) re-set it around their own
        # stages, which is exactly the server's scoping (their $$ROOT is
        # THEIR input document).
        _STAGE_COLUMNS.set(
            [c for c in out.columns if not c.startswith("__")])
        if op == "$limit":
            n = int(spec)
            bound = n if bound is None else min(bound, n)
        elif op not in _BOUND_KEEPERS:
            bound = None
        if op in ("$out", "$merge") and i != len(pipeline) - 1:
            raise ValueError(f"{op} must be the last pipeline stage")
        if op in ("$vectorSearch", "$geoNear", "$search", "$searchMeta",
                  "$rankFusion", "$scoreFusion") and i != 0:
            raise ValueError(f"{op} must be the first pipeline stage")
        if op == "$documents":
            # literal-documents source (Mongo 5.1): replaces the input
            if i != 0:
                raise ValueError("$documents must be the first pipeline stage")
            if not isinstance(spec, list) or not spec:
                raise ValueError("$documents takes a non-empty document list")
            out = df.sparkSession.createDataFrame(spec)
        elif op == "$collStats":
            # count form only: {"count": {}} → one {count: n} document.
            # storageStats/latencyStats describe a mongod process — the
            # store's stats sidecars answer size questions instead
            # (sources/mongo_datasource.py aggregate pushdown).
            if "count" not in spec or set(spec) - {"count"}:
                raise ValueError(
                    "unsupported pipeline stage form: $collStats supports"
                    " the {count: {}} form only (storageStats/latencyStats"
                    " describe a mongod process)")
            out = out.agg(F.count(F.lit(1)).alias("count"))
        elif op == "$search":
            out = _stage_search(out, spec)
        elif op == "$searchMeta":
            out = _stage_search_meta(out, spec)
        elif op == "$vectorSearch":
            out = _stage_vector_search(out, spec)
        elif op == "$rankFusion":
            out = _stage_rank_fusion(out, spec, tables)
        elif op == "$scoreFusion":
            out = _stage_score_fusion(out, spec, tables)
        elif op == "$geoNear":
            out = _stage_geo_near(out, spec)
        elif op == "$match":
            if isinstance(spec, dict) and "$text" in spec:
                if i != 0:
                    raise ValueError(
                        "$text must appear in the FIRST $match stage of "
                        "the pipeline (server rule)")
                out = _stage_text_match(out, spec)
            else:
                out = out.where(match_to_col(spec))
        elif op == "$project":
            out = _stage_project(out, spec)
        elif op in ("$addFields", "$set"):
            for k, v in spec.items():
                if "." in k:
                    # nested write (r12): previously a FLAT column
                    # literally named "a.b" — the dangerous silent kind
                    out = _add_field_dotted(out, k, _project_expr(out, v))
                else:
                    out = out.withColumn(k, _project_expr(out, v))
        elif op == "$unset":
            fields = [spec] if isinstance(spec, str) else list(spec)
            out = out.drop(*[f for f in fields if "." not in f])
            out = _drop_dotted(out, [f for f in fields if "." in f])
        elif op == "$group":
            out = _stage_group(out, spec)
        elif op == "$unwind":
            out = _stage_unwind(out, spec)
        elif op == "$sort":
            out = _stage_sort(out, spec)
        elif op == "$skip":
            out = out.offset(int(spec))
        elif op == "$limit":
            out = out.limit(int(spec))
        elif op == "$count":
            # server rules: non-empty string, no '.', must not start
            # with '$' (r12 — a dotted name previously produced a flat
            # column literally named "a.b")
            if not isinstance(spec, str) or not spec or "." in spec \
                    or spec.startswith("$"):
                raise ValueError(
                    "$count field must be a non-empty string without "
                    "'.' and not starting with '$' (server rule)")
            out = out.agg(F.count(F.lit(1)).alias(spec))
        elif op == "$lookup":
            out = _stage_lookup(out, spec, tables, parent_bound=bound)
        elif op in ("$replaceRoot", "$replaceWith"):
            if op == "$replaceRoot":
                if not isinstance(spec, dict) or "newRoot" not in spec:
                    raise ValueError("$replaceRoot needs {newRoot: ...}")
                root = spec["newRoot"]
            else:  # $replaceWith takes the expression directly
                root = spec
            if isinstance(root, str) and root in ("$$ROOT", "$$CURRENT"):
                pass    # the identity replace (r12) — a no-op
            elif isinstance(root, str) and root.startswith("$$"):
                out = (out.select(expr_to_col(root).alias("__root"))
                       .select("__root.*"))
            elif isinstance(root, str) and root.startswith("$"):
                out = out.select(f"{root[1:]}.*")
            else:
                # document expression (e.g. {$mergeObjects: ...} or a
                # literal doc) → compile to a struct and explode it
                out = (out.select(expr_to_col(root).alias("__root"))
                       .select("__root.*"))
        elif op == "$redact":
            out = _stage_redact(out, spec)
        elif op == "$bucket":
            out = _stage_bucket(out, spec)
        elif op == "$bucketAuto":
            out = _stage_bucket_auto(out, spec)
        elif op == "$setWindowFields":
            out = _stage_set_window_fields(out, spec)
        elif op == "$sortByCount":
            out = (out.groupBy(expr_to_col(spec).alias("_id"))
                   .agg(F.count(F.lit(1)).alias("count"))
                   .orderBy(F.col("count").desc(), F.col("_id").asc()))
        elif op == "$unionWith":
            if isinstance(spec, str):
                spec = {"coll": spec}
            _check_spec_keys("$unionWith", spec, {"coll", "pipeline"})
            if not tables or spec["coll"] not in tables:
                raise ValueError(
                    f"$unionWith {spec.get('coll')!r}: pass tables={{name: DataFrame}}")
            other = aggregate(tables[spec["coll"]], spec.get("pipeline", []),
                              tables=tables)
            out = out.unionByName(other, allowMissingColumns=True)
        elif op == "$sample":
            # deliberate determinism deviation: the server samples randomly;
            # here the "sample" is the top-N by a uniform md5 hash of the
            # whole row — reproducible on any engine/partitioning, and
            # plans as TakeOrderedAndProject (no global sort materialized)
            _check_spec_keys("$sample", spec, {"size"})
            n = int(spec["size"])
            ranked = out.withColumn(
                "__smp", F.md5(F.to_json(F.struct(*[F.col(c) for c in out.columns]))))
            out = ranked.orderBy("__smp").limit(n).drop("__smp")
        elif op == "$densify":
            out = _stage_densify(out, spec)
        elif op == "$fill":
            out = _stage_fill(out, spec)
        elif op == "$facet":
            out = _stage_facet(out, spec, tables, store_path)
        elif op == "$graphLookup":
            out = _stage_graph_lookup(out, spec, tables)
        elif op == "$out":
            out = _stage_out(out, spec, store_path, client_factory)
        elif op == "$merge":
            out = _stage_merge(out, spec, store_path, client_factory,
                               spool_path)
        else:
            raise ValueError(f"unsupported pipeline stage {op}")
    return out
