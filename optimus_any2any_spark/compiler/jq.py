"""JQ transform: subset → native DataFrame ops, full jq via Arrow batches.

The reference's only general-purpose transform pipes 512-record NDJSON
batches through a ``jq -c`` subprocess (reference: ext/jq/connector.go:
101-127; driver internal/component/common/connector.go:67-127; design
docs/rfc_002). Here:

- :func:`translate_jq` compiles the *relational core* of JQ —
  ``.[] | select(...)``, object construction, ``del(...)``, ``. + {...}``
  merges, arithmetic/comparison/boolean expressions (comparisons are
  TOTAL exactly as jq's: null is the smallest value, never SQL NULL),
  common scalar functions, ``sub``/``gsub``/``test`` on the
  Java≡Oniguruma-provable regex subset, array/string slices
  ``.[a:b]`` and dynamic indexing, ``@text/@base64/@csv/@tsv`` format
  strings, ``map(...)``/``map(select(...))``, object-array operations
  (``sort_by``/``min_by``/``max_by``/``unique_by``, element field
  access, chained indexing — parametric kinds carry the struct schema
  so element expressions prove their types), ``tojson``, polymorphic
  ``+``/``-`` (string/array concat, array subtraction, null identity),
  string/container interpolation ``"\\(...)"``, per-record
  ``reduce``/``[foreach]`` over array paths (compiled to
  ``F.aggregate`` folds/scans), the dict-reshaping family
  (``with_entries`` and the fused ``to_entries | map | from_entries``
  — record keys are static columns, so key rewrites and key-only
  selects evaluate at compile time via one jq-binary call per COLUMN
  while value rewrites compile per column through the expression
  grammar), ``map_values`` (the same machinery), literal
  ``getpath`` with jq's exact missing-vs-scalar-walk edges,
  stage-level variable bindings (``EXPR as $x | ...`` as
  hidden snapshot columns that survive reshapes), ``try/catch``
  on the provable error⇔null class, the libm family
  (``sqrt``/``exp``/``log``/``log10`` and ``pow(x; y)`` with jq 1.6's
  probed edges — NaN→null, infinities clamped to ±DBL_MAX; ``log2``
  stays on the binary: its C call vs a log-ratio evaluation differs
  in the last ulp), and array ``indices`` (null-safe element match,
  overlap-inclusive subsequence match, literal needles only) —
  straight to Catalyst expressions:
  whole-stage-codegen'd, no Python in the hot path, globally (not
  per-batch) semantic. ``reduce .[]`` folds the whole batch, so it
  stays on the binary path below.
- :func:`jq_binary_transform` is the faithful escape hatch for arbitrary
  JQ programs: Arrow-batched ``mapInPandas`` feeding the real ``jq``
  binary per CONNECTOR_BATCH_SIZE-record batch, preserving the
  reference's per-batch aggregation semantics exactly (SURVEY.md §2.3 —
  JQ aggregations are per-batch, exposed via
  ``__METADATA__connector_batch_index``).
- :func:`jq_transform` tries the native translation first and falls back
  to the binary.
"""

from __future__ import annotations

import json
import re
import subprocess
from collections import OrderedDict
from dataclasses import dataclass
from typing import Any, Iterator

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F


class JQUnsupported(Exception):
    """Program is outside the natively-translatable subset."""


# Stage-level `EXPR as $x` bindings live in hidden columns with this
# prefix so they survive later stage projections; translate_jq strips
# them from the final result and every record-semantics site (keys,
# to_entries, `. as $x` snapshots, object merges) must enumerate
# _record_columns, never df.columns.
_VAR_PREFIX = "__jq_var_"


def _record_columns(df: DataFrame) -> list[str]:
    return [c for c in df.columns if not c.startswith(_VAR_PREFIX)]


def _let(value: Column, fn) -> Column:
    """``fn(v)`` with ``value`` evaluated once per row. SQL lambdas have
    no let: an array a lambda indexes or scans must be a lambda variable
    or an attribute, or Spark re-evaluates it per element. A
    one-element ``transform`` binds ``v`` to ``value`` once."""
    return F.get(F.transform(F.array(value), fn), 0)


def _dynamic_obj_index(get_field, fields, key_col):
    """Dynamic object indexing over a STATIC field set: a CASE chain
    keyed on the field names. All fields must share one Spark type —
    a key-dependent result type cannot live in a single Column, so
    mixed objects route to the binary."""
    if not fields:
        raise JQUnsupported("jq: dynamic index of an empty object")
    dtypes = {f.dataType.simpleString() for f in fields}
    if len(dtypes) != 1:
        raise JQUnsupported(
            "jq: dynamic object index over mixed field types "
            f"({sorted(dtypes)}) — binary"
        )
    out = F.lit(None).cast(fields[0].dataType)
    for f in reversed(fields):
        out = F.when(key_col == F.lit(f.name), get_field(f.name)).otherwise(
            out
        )
    return out, _kind_of_dtype(fields[0].dataType)


def _jq_eval_static(program: str, input_value) -> list:
    """Run the real jq binary ONCE at compile time on a literal value.

    Used where an entry key is a compile-time constant (record columns
    are static) but the transform is arbitrary jq — e.g. the `.key`
    half of with_entries. The subprocess runs per COLUMN on the
    driver during translation, never per row, so the plan stays fully
    native while the key semantics stay bit-faithful to the reference's
    jq 1.6 (ext/jq/connector.go:101-127)."""
    try:
        out = subprocess.run(
            ["jq", "-c", program],
            input=json.dumps(input_value).encode(),
            stdout=subprocess.PIPE,
            stderr=subprocess.PIPE,
            timeout=10,
        )
    except (OSError, subprocess.TimeoutExpired) as e:
        raise JQUnsupported(f"jq: static eval unavailable ({e})")
    if out.returncode != 0:
        raise JQUnsupported(
            f"jq: static eval of {program!r} failed: "
            f"{out.stderr.decode()[:200]}"
        )
    return [
        json.loads(ln)
        for ln in out.stdout.decode().splitlines()
        if ln.strip()
    ]


# ---------------------------------------------------------------------------
# Tokenizer

_TOK = re.compile(
    r"""
    \s*(
        "(?:[^"\\]|\\.)*"                     # string
      | -?\d+\.\d+ | -?\d+                    # numbers
      | \.\.                                  # recursive descent
      | \.\[\]                                # .[]
      | \.[A-Za-z_][\w]*(?:\.[A-Za-z_][\w]*)*\[-?\d+\]\??  # .path[idx]
      | \.[A-Za-z_][\w]*(?:\.[A-Za-z_][\w]*)*\??  # .path.to.field (opt ?)
      | \.                                    # identity
      | ==|!=|<=|>=|\|\||&&|//=|//|\|=|\+=|-=|\*=|/=|%=
      | [|+\-*/%<>(){}:,;=\[\]]
      | \$[A-Za-z_][\w]*
      | @[A-Za-z_][\w]*
      | [A-Za-z_][\w]*
    )
    """,
    re.VERBOSE,
)


def _tokenize(src: str) -> list[str]:
    toks, pos = [], 0
    while pos < len(src):
        m = _TOK.match(src, pos)
        if not m:
            if src[pos:].strip() == "":
                break
            raise JQUnsupported(f"jq: cannot tokenize at {src[pos:]!r}")
        toks.append(m.group(1))
        pos = m.end()
    return toks


# ---------------------------------------------------------------------------
# Expression parser (precedence climbing) → Column

_CMP = {"==": "==", "!=": "!=", "<": "<", "<=": "<=", ">": ">", ">=": ">="}


_ASCII_LOWER = "abcdefghijklmnopqrstuvwxyz"
_ASCII_UPPER = "ABCDEFGHIJKLMNOPQRSTUVWXYZ"


def _ascii_case(col: Column, up: bool) -> Column:
    """jq's ascii_upcase/ascii_downcase map ONLY a-z/A-Z (probed:
    'héllo'|ascii_upcase == 'HéLLO' in jq 1.6); Spark's upper()/lower()
    are full Unicode (É) — a silent divergence hypothesis caught on
    the non-ASCII generator. translate() is the exact ASCII-only map."""
    return (
        F.translate(col, _ASCII_LOWER, _ASCII_UPPER)
        if up
        else F.translate(col, _ASCII_UPPER, _ASCII_LOWER)
    )


_DBL_MAX = 1.7976931348623157e308


def _jq_math_edges(col: Column) -> Column:
    """jq 1.6 math edges (probed): NaN results print as null
    (-1|sqrt -> null, -2|log -> null); infinities clamp to +/-DBL_MAX
    (0|log -> -1.7976931348623157e+308, 1e308|exp -> +DBL_MAX)."""
    clamped = F.least(
        F.greatest(col, F.lit(-_DBL_MAX)), F.lit(_DBL_MAX)
    )
    return F.when(F.isnan(col), F.lit(None)).otherwise(clamped)


def _jq_range_values(args: list[int]) -> list[int]:
    """jq 1.6 ``range`` semantics, replicated at compile time for
    literal args. Probed against the binary: ``range(0)`` and
    ``range(-2)`` emit nothing; ``range(1;2;0)`` (zero step) emits
    nothing; ``range(3;0;-1)`` counts down ``[3,2,1]``; the upper
    bound is always exclusive."""
    if len(args) == 1:
        frm, to, step = 0, args[0], 1
    elif len(args) == 2:
        frm, to, step = args[0], args[1], 1
    else:
        frm, to, step = args
    out: list[int] = []
    x = frm
    if step > 0:
        while x < to:
            out.append(x)
            x += step
    elif step < 0:
        while x > to:
            out.append(x)
            x += step
    return out


def _kind_of_dtype(dtype) -> str:
    """Map a Spark DataType to a jq value kind for arithmetic checks.

    ``int`` means provably-integral: its JSON serialization (``5``)
    matches jq's number formatting exactly, so int values may be
    interpolated into strings and accumulated in reduce/foreach.
    Fractional ``number`` kinds cannot (Spark prints ``5.0`` where jq
    prints ``5``), so those uses route to the jq binary."""
    from pyspark.sql import types as T

    if isinstance(dtype, (T.StringType,)):
        return "string"
    if isinstance(dtype, T.BooleanType):
        return "boolean"
    if isinstance(dtype, T.NullType):
        return "null"
    if isinstance(dtype, T.ArrayType) and isinstance(
        dtype.elementType, T.StringType
    ):
        return "complex_str"  # provably array<string>: join() is native
    if isinstance(dtype, T.ArrayType) and isinstance(
        dtype.elementType,
        (T.ByteType, T.ShortType, T.IntegerType, T.LongType),
    ):
        return "complex_num"  # provably integral array: sort/add/+ native
    if isinstance(dtype, T.ArrayType) and isinstance(
        dtype.elementType, T.BooleanType
    ):
        return "complex_bool"  # provably array<boolean>: any/all native
    if isinstance(dtype, T.ArrayType) and isinstance(
        dtype.elementType, T.StructType
    ):
        # parametric kind: array<struct> carries its dtype so element
        # operations (sort_by, map(.f), field access) can resolve
        # fields and prove THEIR kinds. String-membership checks all
        # over the parser fail closed on tuples (-> jq-binary), so the
        # richer kind only changes behavior where explicitly handled.
        return ("complex_obj", dtype)
    if isinstance(dtype, T.StructType):
        return ("obj", dtype)
    if isinstance(dtype, (T.ArrayType, T.MapType, T.BinaryType)):
        return "complex"
    if isinstance(
        dtype, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)
    ):
        return "int"
    if isinstance(dtype, T.NumericType):
        return "number"
    return "unknown"


class _ExprParser:
    """Parses jq scalar expressions into Spark Columns against ``df``.

    Tracks a value *kind* per sub-expression so that jq's polymorphic
    ``+``/``-`` (string/array concat, object merge, ``null + x = x``)
    raises :class:`JQUnsupported` instead of silently compiling to
    numeric arithmetic — those programs route to the faithful jq-binary
    fallback (ADVICE: jq.py '+' semantics)."""

    def __init__(
        self,
        toks: list[str],
        df: DataFrame,
        bindings: dict[str, tuple[Column, str]] | None = None,
    ):
        self.toks = toks
        self.i = 0
        self.df = df
        # jq variables in scope: "$name" → (Column, kind); "." rebinds
        # the identity inside reduce/foreach update bodies (accumulator)
        self.bindings = bindings or {}

    def peek(self) -> str | None:
        return self.toks[self.i] if self.i < len(self.toks) else None

    def next(self) -> str:
        t = self.toks[self.i]
        self.i += 1
        return t

    def expect(self, t: str):
        got = self.next()
        if got != t:
            raise JQUnsupported(f"jq: expected {t!r}, got {got!r}")

    def parse(self) -> Column:
        return self.parse_full()[0]

    def parse_full(self) -> tuple[Column, str]:
        col, kind = self.parse_alt()
        # top-level pipe chain: `.name | startswith("a")` etc.
        while self.peek() == "|":
            self.next()
            col, kind = self.parse_piped(col, kind)
        if self.peek() is not None:
            raise JQUnsupported(f"jq: trailing tokens {self.toks[self.i:]}")
        return col, kind

    def parse_alt(self) -> tuple[Column, str]:
        """jq's ``//`` alternative operator (binds looser than ``or``):
        ``a // b`` yields a unless a is null or false. Exact per kind:
        strings/numbers/arrays can never be false, so it is coalesce;
        booleans need the false check; unknown kinds route to the
        binary (null-vs-false behavior can't be proven from schema)."""
        left, lkind = self.parse_or()
        while self.peek() == "//":
            self.next()
            right, rkind = self.parse_or()
            if isinstance(lkind, tuple) or lkind in (
                "string", "number", "int", "complex", "complex_str",
                "complex_num",
            ):
                # arrays/objects/strings/numbers can never be false
                left = F.coalesce(left, right)
            elif lkind == "boolean":
                left = F.when(left == F.lit(True), left).otherwise(right)
            elif lkind == "null":
                left = right
            else:
                raise JQUnsupported(
                    f"jq: '//' on unprovable kind {lkind!r} outside the "
                    "native subset"
                )
            lkind = lkind if lkind == rkind else (
                rkind if lkind == "null" else "unknown"
            )
        return left, lkind

    @staticmethod
    def _truthy(col: Column, kind: str) -> Column:
        """jq truthiness as a TOTAL boolean: null and false are falsy,
        everything else (any non-null value of any type) is truthy.
        SQL three-valued logic would let a runtime NULL propagate and
        silently flip an `or`/`and` result that jq defines."""
        if kind == "boolean":
            return F.coalesce(col, F.lit(False))
        if kind == "null":
            return F.lit(False)
        if isinstance(kind, tuple) or kind in (
            "string", "int", "number", "complex", "complex_str",
            "complex_num", "complex_bool",
        ):
            return col.isNotNull()
        raise JQUnsupported(
            f"jq: truthiness of unprovable kind {kind!r} outside the "
            "native subset"
        )

    def parse_or(self) -> tuple[Column, str]:
        left, kind = self.parse_and()
        while self.peek() in ("or", "||"):
            self.next()
            right, rkind = self.parse_and()
            left = self._truthy(left, kind) | self._truthy(right, rkind)
            kind = "boolean"
        return left, kind

    def parse_and(self) -> tuple[Column, str]:
        left, kind = self.parse_cmp()
        while self.peek() in ("and", "&&"):
            self.next()
            right, rkind = self.parse_cmp()
            left = self._truthy(left, kind) & self._truthy(right, rkind)
            kind = "boolean"
        return left, kind

    def parse_cmp(self) -> tuple[Column, str]:
        left, lkind = self.parse_add()
        op = self.peek()
        if op in _CMP:
            self.next()
            right, rkind = self.parse_add()
            # jq '.a == null' tests null-ness; SQL three-valued '=' would
            # return NULL for every row (silently dropping all rows from
            # a select). Compile the null comparisons to isNull checks —
            # exactly jq — and order comparisons vs null to the binary.
            if lkind == "null" or rkind == "null":
                subj = right if lkind == "null" else left
                if op == "==":
                    return subj.isNull(), "boolean"
                if op == "!=":
                    return subj.isNotNull(), "boolean"
                raise JQUnsupported(
                    "jq: ordered comparison with null (jq type ordering) "
                    "outside the native subset"
                )
            if isinstance(lkind, tuple) or isinstance(rkind, tuple):
                # deep equality/ordering on objects and object arrays
                # (jq compares them structurally with its own type
                # order) — binary path
                raise JQUnsupported(
                    "jq: comparison of object/array-of-object values "
                    "outside the native subset"
                )
            # jq compares across types by TYPE ORDER (a string never
            # equals a number; every number sorts before every string);
            # Spark would implicitly cast. Mismatched provable kinds
            # route to the binary. int and number are ONE jq type.
            concrete = {
                "string", "number", "int", "boolean", "complex",
                "complex_str", "complex_num",
            }
            _cls = lambda k: "number" if k in ("int", "number") else k
            if (
                lkind in concrete
                and rkind in concrete
                and _cls(lkind) != _cls(rkind)
            ):
                raise JQUnsupported(
                    f"jq: cross-type comparison ({lkind} {op} {rkind}) "
                    "outside the native subset"
                )
            # jq comparisons are TOTAL: null is a value (the smallest in
            # the type order), so null == x is false-not-NULL, null != x
            # is true, null < non-null is true. SQL three-valued logic
            # would return NULL and silently drop rows/elements from
            # select() that jq keeps (found via map(select(. != "x"))
            # over arrays with null elements).
            a, b = left, right
            if op == "==":
                return a.eqNullSafe(b), "boolean"
            if op == "!=":
                return ~a.eqNullSafe(b), "boolean"
            if op == "<":
                out = (
                    F.when(a.isNull(), b.isNotNull())
                    .when(b.isNull(), F.lit(False))
                    .otherwise(a < b)
                )
            elif op == "<=":
                out = (
                    F.when(a.isNull(), F.lit(True))
                    .when(b.isNull(), F.lit(False))
                    .otherwise(a <= b)
                )
            elif op == ">":
                out = (
                    F.when(b.isNull(), a.isNotNull())
                    .when(a.isNull(), F.lit(False))
                    .otherwise(a > b)
                )
            else:  # >=
                out = (
                    F.when(b.isNull(), F.lit(True))
                    .when(a.isNull(), F.lit(False))
                    .otherwise(a >= b)
                )
            return out, "boolean"
        return left, lkind

    def parse_add(self) -> tuple[Column, str]:
        left, lkind = self.parse_mul()
        while self.peek() in ("+", "-"):
            op = self.next()
            right, rkind = self.parse_mul()
            # jq '+' is polymorphic: numeric addition, string/array
            # concatenation, object merge, and null as the identity
            # (null + x == x + null == x). Natively compiled: numbers,
            # provable string+string and array+array (null-aware: a
            # null VALUE on either side yields the other — exactly jq),
            # and null-kind identity. Object merge in expression
            # position and mixed kinds go to the jq binary.
            if op == "+" and lkind == "null":
                left, lkind = right, rkind
                continue
            if op == "+" and rkind == "null":
                continue
            if op == "+" and lkind == "string" and rkind == "string":
                left = (
                    F.when(left.isNull(), right)
                    .when(right.isNull(), left)
                    .otherwise(F.concat(left, right))
                )
                continue
            if (
                op == "+"
                and lkind == rkind
                and lkind in ("complex_str", "complex_num")
            ):
                left = (
                    F.when(left.isNull(), right)
                    .when(right.isNull(), left)
                    .otherwise(F.concat(left, right))
                )
                continue
            if (
                op == "-"
                and lkind == rkind
                and lkind in ("complex_str", "complex_num")
            ):
                # jq array subtraction removes ALL occurrences of
                # right's elements while preserving left's order and
                # duplicates — array_except would dedup the result, so
                # filter with an exists probe (null-safe equality keeps
                # null-element behavior aligned with jq). A null array
                # on either side errors in jq; the total translation
                # yields NULL (same relaxation as join()).
                l_arr, r_arr = left, right
                left = F.when(
                    l_arr.isNotNull() & r_arr.isNotNull(),
                    _let(
                        F.struct(l_arr.alias("l"), r_arr.alias("r")),
                        lambda p: F.filter(
                            p["l"],
                            lambda x: ~F.exists(
                                p["r"], lambda y: x.eqNullSafe(y)
                            ),
                        ),
                    ),
                )
                continue
            for k in (lkind, rkind):
                if isinstance(k, tuple) or k in (
                    "string", "complex", "complex_str", "complex_num",
                    "null", "boolean",
                ):
                    raise JQUnsupported(
                        f"jq: non-numeric {op!r} ({lkind} {op} {rkind}) "
                        "outside the native subset"
                    )
            if op == "+":
                # null VALUE identity (not just null kind): jq probes
                # null + 5 == 5 (absent keys read null, so `.a += 5`
                # on a missing field must yield 5, not SQL NULL);
                # `-` with a null operand ERRORS in jq → the usual
                # total relaxation (null) stands there
                left = (
                    F.when(left.isNull(), right)
                    .when(right.isNull(), left)
                    .otherwise(left + right)
                )
            else:
                left = left - right
            lkind = "int" if lkind == rkind == "int" else "number"
        return left, lkind

    def parse_mul(self) -> tuple[Column, str]:
        left, lkind = self.parse_unary()
        while self.peek() in ("*", "/", "%"):
            op = self.next()
            right, rkind = self.parse_unary()
            if op == "*" and lkind == "string" and rkind == "int":
                # jq string repetition: "ab" * 3 == "ababab"; n <= 0
                # yields null (probed against jq 1.6). Fractional
                # counts truncate in jq — int-provable counts only.
                left = F.when(right > 0, F.repeat(left, right))
                lkind = "string"
                continue
            for k in (lkind, rkind):
                if isinstance(k, tuple) or k in (
                    "string", "complex", "complex_str", "complex_num",
                    "null", "boolean",
                ):
                    raise JQUnsupported(
                        f"jq: non-numeric {op!r} ({lkind} {op} {rkind}) "
                        "outside the native subset"
                    )
            if op == "%" and not (lkind == rkind == "int"):
                # jq '%' truncates operands to integers (5.5 % 2 == 1);
                # Spark's is fmod — only provably-integral operands agree
                raise JQUnsupported(
                    f"jq: '%' on non-integral kinds ({lkind}, {rkind}) "
                    "outside the native subset"
                )
            left = left * right if op == "*" else (left / right if op == "/" else left % right)
            # jq division is always real (5 / 2 == 2.5) — Spark's '/'
            # on longs likewise returns double, but the printed form of
            # a whole-number double diverges (2.0 vs jq's 2), so '/'
            # results are 'number', never 'int'
            lkind = (
                "int"
                if op in ("*", "%") and lkind == rkind == "int"
                else "number"
            )
        return left, lkind

    def parse_unary(self) -> tuple[Column, str]:
        if self.peek() == "-":
            self.next()
            col, kind = self.parse_postfix()
            if kind not in ("int", "number", "unknown"):
                raise JQUnsupported(f"jq: negation of kind {kind!r}")
            return -col, ("number" if kind == "unknown" else kind)
        return self.parse_postfix()

    def parse_postfix(self) -> tuple[Column, str]:
        col, kind = self.parse_atom()
        while True:
            nxt = self.peek()
            if nxt == "[":
                col, kind = self._parse_index_suffix(col, kind)
            elif (
                nxt is not None
                and nxt.startswith(".")
                and nxt != "."
                and isinstance(kind, tuple)
                and kind[0] == "obj"
            ):
                # chained field access after indexing: .items[0].name
                col, kind = self._struct_path(col, kind[1], self.next())
            else:
                break
        return col, kind

    def _parse_index_suffix(
        self, subject: Column, kind: str
    ) -> tuple[Column, str]:
        """``[i]`` dynamic indexing and ``[a:b]`` slices as postfix
        operators (jq array/string slicing). Bounds clamp to the
        container size and negatives count from the end, exactly jq;
        a null container yields null (jq: ``null[1:2]`` is null).
        ``[]`` here would be stream iteration — scalar position can't
        express a stream, so it routes to the binary."""
        self.expect("[")
        if self.peek() == "]":
            raise JQUnsupported(
                "jq: '.x[]' iteration in scalar position emits a "
                "stream — binary path"
            )
        lo_col = hi_col = None
        lo_kind = None
        is_slice = False
        if self.peek() == ":":
            is_slice = True
        else:
            c, k = self.parse_or()
            lo_col, lo_kind = c, k
        if self.peek() == ":":
            self.next()
            is_slice = True
            if self.peek() != "]":
                c, k = self.parse_or()
                if k not in ("int", "unknown"):
                    raise JQUnsupported(f"jq: slice bound of kind {k!r}")
                hi_col = c
        self.expect("]")
        if is_slice and lo_kind not in (None, "int", "unknown"):
            raise JQUnsupported(f"jq: slice bound of kind {lo_kind!r}")

        is_obj_arr = isinstance(kind, tuple) and kind[0] in (
            "complex_obj", "complex_obj_arr"
        )
        is_arr = is_obj_arr or kind in (
            "complex_str", "complex_num", "complex_bool", "complex"
        )
        if not is_slice:
            # dynamic OBJECT index: `.meta[$k]` / `.meta[.f]` on a
            # struct compiles to a CASE chain over the (static) field
            # names — fields must share ONE type (a mixed-type result
            # has no Column representation). Missing keys read null
            # (probed jq 1.6); a NULL key reads null too, the same
            # error⇔null relaxation the array dynamic index already
            # makes (jq errors on both null indexes).
            if isinstance(kind, tuple) and kind[0] == "obj":
                if lo_kind not in ("string", "unknown"):
                    raise JQUnsupported(
                        "jq: object index must be a string (jq errors "
                        "on non-string keys) — binary"
                    )
                return _dynamic_obj_index(
                    lambda f: subject[f], kind[1].fields, lo_col
                )
            if lo_kind not in ("int", "unknown"):
                raise JQUnsupported(f"jq: index of kind {lo_kind!r}")
            # dynamic index: arrays only (jq can't index strings by int)
            if not is_arr:
                raise JQUnsupported(
                    f"jq: indexing kind {kind!r} outside the native subset"
                )
            n = F.size(subject)
            idx = lo_col.cast("int")
            out = F.when(idx >= 0, F.get(subject, idx)).otherwise(
                F.get(subject, n + idx)
            )
            if is_obj_arr:
                inner = kind[1].elementType
                if kind[0] == "complex_obj":
                    return out, ("obj", inner)
                return out, ("complex_obj", inner)
            elem = {
                "complex_str": "string",
                "complex_num": "int",
                "complex_bool": "boolean",
            }.get(kind, "unknown")
            return out, elem

        if not (is_arr or kind == "string"):
            raise JQUnsupported(
                f"jq: slicing kind {kind!r} outside the native subset"
            )
        n = F.size(subject) if is_arr else F.length(subject)

        def clamp(bound: Column | None, default: Column) -> Column:
            if bound is None:
                return default
            b = bound.cast("int")
            b = F.when(b >= 0, b).otherwise(n + b)
            return F.greatest(F.lit(0), F.least(b, n))

        lo = clamp(lo_col, F.lit(0))
        hi = clamp(hi_col, n)
        length = F.greatest(hi - lo, F.lit(0))
        if is_arr:
            return F.slice(subject, lo + 1, length), kind
        return F.substring(subject, lo + 1, length), "string"

    def parse_piped(self, subject: Column, kind: str) -> tuple[Column, str]:
        """One ``| fn`` / ``| fn(arg)`` step applied to a piped subject.

        Only kind-provable cases compile; anything else routes to the
        jq binary. Note on error parity: jq *errors out* when e.g.
        ``startswith`` receives null/non-string input — programs that
        ever produced output therefore never hit that case, so the
        null-propagating Column translation is observationally
        equivalent on any input the reference accepted.
        """
        name = self.next()
        if name == "until":
            # `EXPR | until(cond; update)` — the piped subject is the
            # iteration seed (closed-form subset)
            return self._compile_until(subject, kind)
        if name == "while":
            raise JQUnsupported(
                "jq: bare while emits a stream — only the "
                "[while(...)] collected form is native"
            )
        if name == "repeat":
            raise JQUnsupported(
                "jq: bare repeat never terminates in jq 1.6 — only "
                "[limit(n; repeat(f))] is native"
            )
        if name == "[" and self.peek() in ("while", "limit"):
            # `EXPR | [while(cond; update)]` / `| [limit(n;
            # repeat(f))]` — re-parse the bracket primary with '.'
            # bound to the piped subject (path-sourced limit under a
            # bound '.' refuses inside parse_bracket)
            self.i -= 1
            old = dict(self.bindings)
            self.bindings["."] = (subject, kind)
            try:
                return self.parse_atom()
            finally:
                self.bindings = old
        if name == "(":
            # `| ( expr )` — grouped pipe target (the shape inlined
            # zero-arg defs produce): evaluate expr with '.' bound to
            # the piped subject, exactly jq's lexical scoping
            body, _stop = self._capture_until((")",))
            sub = _ExprParser(
                list(body),
                self.df,
                {**self.bindings, ".": (subject, kind)},
            )
            return sub.parse_full()
        if name.startswith("@"):
            return self._format_string(name, subject, kind)
        if name.startswith(".") and name != ".":
            # piped field access: `... | .name` reads from the piped
            # value when it is a provable object
            if isinstance(kind, tuple) and kind[0] == "obj":
                out, okind = self._struct_path(subject, kind[1], name)
                # postfix indexing/slicing may follow
                while self.peek() == "[":
                    out, okind = self._parse_index_suffix(out, okind)
                return out, okind
            raise JQUnsupported(
                f"jq: pipe into path {name!r} on kind {kind!r}"
            )
        if not re.fullmatch(r"[A-Za-z_]\w*", name or ""):
            raise JQUnsupported(f"jq: pipe into non-function {name!r}")
        if name == "map":
            # map(EXPR) over a provable array: element-wise F.transform
            # with '.' (and therefore every piped builtin / arithmetic
            # expression the scalar grammar supports) bound to the
            # element. map(ascii_upcase)-style bare builtins parse as
            # a piped application of the builtin to '.'.
            if isinstance(kind, tuple) and kind[0] == "complex_obj":
                elem_kind = ("obj", kind[1].elementType)
            elif isinstance(kind, tuple) and kind[0] == "complex_obj_arr":
                # map over group_by output: each element is itself an
                # array of objects
                elem_kind = ("complex_obj", kind[1].elementType)
            else:
                elem_kind = {
                    "complex_str": "string",
                    "complex_num": "int",
                    "complex_bool": "boolean",
                }.get(kind)
            if elem_kind is None:
                raise JQUnsupported(
                    "jq: map() native only on provable scalar/object arrays"
                )
            self.expect("(")
            inner_toks, _ = self._capture_until((")",))
            if (
                len(inner_toks) >= 3
                and inner_toks[0] == "select"
                and inner_toks[1] == "("
                and inner_toks[-1] == ")"
            ):
                # map(select(COND)) == element filter; jq truthiness:
                # a null condition drops the element, as F.filter does
                def cond(x: Column) -> Column:
                    c, ck = _ExprParser(
                        list(inner_toks[2:-1]),
                        self.df,
                        {**self.bindings, ".": (x, elem_kind)},
                    ).parse_full()
                    if ck not in ("boolean", "null"):
                        raise JQUnsupported(
                            f"jq: select condition kind {ck!r} (jq "
                            "truthiness) outside the native subset"
                        )
                    return c

                cond(F.get(subject, 0))  # kind-check before compiling
                return F.filter(subject, cond), kind

            def elem(x: Column) -> tuple[Column, str]:
                toks = list(inner_toks)
                # bare builtin shorthand: map(length) == map(. | length)
                if len(toks) == 1 and re.fullmatch(
                    r"[A-Za-z_]\w*", toks[0]
                ):
                    toks = [".", "|", toks[0]]
                return _ExprParser(
                    toks,
                    self.df,
                    {**self.bindings, ".": (x, elem_kind)},
                ).parse_full()

            _, out_elem_kind = elem(F.get(subject, 0))
            if isinstance(out_elem_kind, tuple) and out_elem_kind[0] == "obj":
                # struct-valued projection: array<struct> out
                from pyspark.sql import types as T

                out_kind = ("complex_obj", T.ArrayType(out_elem_kind[1]))
            elif (
                isinstance(out_elem_kind, tuple)
                and out_elem_kind[0] == "complex_obj"
            ):
                from pyspark.sql import types as T

                out_kind = ("complex_obj_arr", T.ArrayType(out_elem_kind[1]))
            else:
                out_kind = {
                    "string": "complex_str",
                    "int": "complex_num",
                    "boolean": "complex_bool",
                    # doubles and nested arrays move as VALUES fine (no
                    # stringification); the coarse kind blocks text
                    # paths downstream
                    "number": "complex",
                    "complex_str": "complex",
                    "complex_num": "complex",
                    "complex_bool": "complex",
                    "complex": "complex",
                }.get(out_elem_kind)
            if out_kind is None:
                raise JQUnsupported(
                    f"jq: map() element kind {out_elem_kind!r} outside "
                    "the native subset"
                )
            return F.transform(subject, lambda x: elem(x)[0]), out_kind
        if name in ("sort_by", "min_by", "max_by", "unique_by", "group_by"):
            return self._by_funcs(name, subject, kind)
        if name == "indices" and self.peek() == "(":
            # ARRAY indices with LITERAL needle (argument filters run
            # against the piped input in jq, so a field-path argument
            # would diverge — literals only). Scalar needle: positions
            # of null-safe-equal elements ([1,null,2]|indices(null) ->
            # [1], probed); null input -> null (probed). Array needle:
            # every start of a matching subsequence INCLUDING overlaps
            # ([1,2,1,2,1]|indices([1,2,1]) -> [0,2], probed); on a
            # null input jq ERRORS ("Cannot index null with array") —
            # here it reads null instead, the same total-function
            # relaxation as native paths (documented; value-dependent
            # errors cannot be proven away at compile time). String
            # indices are byte-offset, non-overlapping — a different
            # algorithm; binary path.
            if kind not in ("complex_num", "complex_str"):
                raise JQUnsupported(
                    f"jq: indices native only on provable arrays "
                    f"(kind {kind!r})"
                )
            self.expect("(")
            toks, _ = self._capture_until((")",))
            elem_t = "int" if kind == "complex_num" else "string"

            def lit_of(tok: str):
                if tok.startswith('"'):
                    return json.loads(tok), "string"
                if re.fullmatch(r"-?\d+", tok):
                    return int(tok), "int"
                if tok == "null":
                    return None, "null"
                raise JQUnsupported(
                    "jq: indices needs a literal needle (argument "
                    "filters see the piped input)"
                )

            def none_on_null(mk) -> Column:
                # null|indices(x) -> null (probed); everything else
                # evaluates against the non-null array
                return F.when(subject.isNull(), F.lit(None)).otherwise(mk)

            empty = F.array().cast("array<int>")
            if len(toks) == 1:
                v, vk = lit_of(toks[0])
                if vk not in (elem_t, "null"):
                    # jq: type-mismatched needle matches nothing
                    return none_on_null(empty), "complex_num"
                pos = _let(
                    subject,
                    lambda s: F.filter(
                        F.sequence(F.lit(0), F.size(s) - 1),
                        lambda i: F.get(s, i).eqNullSafe(F.lit(v)),
                    ),
                )
                return (
                    none_on_null(
                        F.when(F.size(subject) == 0, empty).otherwise(pos)
                    ),
                    "complex_num",
                )
            if toks and toks[0] == "[" and toks[-1] == "]":
                vals = []
                for tk in toks[1:-1]:
                    if tk == ",":
                        continue
                    v, vk = lit_of(tk)
                    if vk != elem_t:
                        return none_on_null(empty), "complex_num"
                    vals.append(v)
                if not vals:
                    raise JQUnsupported("jq: indices([]) — binary path")
                m = len(vals)
                needle = F.array(*[F.lit(v) for v in vals])
                pos = _let(
                    subject,
                    lambda s: F.filter(
                        F.sequence(F.lit(0), F.size(s) - m),
                        lambda i: F.slice(s, i + 1, m) == needle,
                    ),
                )
                return (
                    none_on_null(
                        F.when(F.size(subject) < m, empty).otherwise(pos)
                    ),
                    "complex_num",
                )
            raise JQUnsupported(
                "jq: indices needs a literal scalar or literal array"
            )
        if name in ("any", "all") and self.peek() == "(":
            # any(f)/all(f): the condition filter runs with '.' bound to
            # each element (jq truthiness: null and false are falsy)
            if isinstance(kind, tuple) and kind[0] == "complex_obj":
                elem_kind = ("obj", kind[1].elementType)
            else:
                elem_kind = {
                    "complex_str": "string",
                    "complex_num": "int",
                    "complex_bool": "boolean",
                }.get(kind)
            if elem_kind is None:
                raise JQUnsupported(
                    f"jq: {name}(f) native only on provable arrays"
                )
            self.expect("(")
            cond_toks, _ = self._capture_until((")",))

            def cond(x: Column) -> Column:
                c, ck = _ExprParser(
                    list(cond_toks),
                    self.df,
                    {**self.bindings, ".": (x, elem_kind)},
                ).parse_full()
                return self._truthy(c, ck)

            cond(F.get(subject, 0))  # kind-check eagerly
            fn = F.exists if name == "any" else F.forall
            return fn(subject, cond), "boolean"
        lit_args: list[str | None] = []
        col_args: list[Column] = []
        arg_kinds: list[str] = []
        if self.peek() == "(":
            self.next()
            while True:
                tok = self.peek()
                if (
                    tok is not None
                    and tok.startswith('"')
                    and self.i + 1 < len(self.toks)
                    and self.toks[self.i + 1] in (")", ";")
                ):
                    lit_args.append(json.loads(self.next()))
                    col_args.append(F.lit(lit_args[-1]))
                    arg_kinds.append("string")
                elif (
                    tok is not None
                    and re.fullmatch(r"\d+", tok)
                    and self.i + 1 < len(self.toks)
                    and self.toks[self.i + 1] in (")", ";")
                ):
                    # integer literal argument (has(0), limit counts…):
                    # captured so kind-static functions can use the
                    # VALUE; string-pattern consumers guard via
                    # _safe_regex's isinstance check
                    lit_args.append(int(self.next()))
                    col_args.append(F.lit(lit_args[-1]))
                    arg_kinds.append("int")
                else:
                    lit_args.append(None)
                    c, k = self.parse_or()
                    col_args.append(c)
                    arg_kinds.append(k)
                if self.peek() == ";":
                    self.next()
                    continue
                break
            self.expect(")")
        return self._piped_func(
            name, subject, kind, col_args, lit_args, arg_kinds
        )

    def _by_funcs(
        self, name: str, subject: Column, kind: str
    ) -> tuple[Column, str]:
        """``sort_by/min_by/max_by/unique_by(KEY)`` over provable
        arrays of objects. The key filter is evaluated with ``.`` bound
        to each ELEMENT (jq scoping) and must prove a string/integral
        kind so the comparator can encode jq's total order (null is the
        smallest value). jq's sort is a stable merge sort and Spark's
        comparator ``array_sort`` is TimSort — both stable, so ties
        keep input order on either path; min_by takes the first minimal
        element and max_by the LAST maximal one, matching jq's
        sort-then-pick definition."""
        if not (isinstance(kind, tuple) and kind[0] == "complex_obj"):
            raise JQUnsupported(
                f"jq: {name} native only on provable object arrays"
            )
        elem_kind = ("obj", kind[1].elementType)
        self.expect("(")
        key_toks, _ = self._capture_until((")",))

        def key_of(x: Column) -> tuple[Column, str]:
            return _ExprParser(
                list(key_toks),
                self.df,
                {**self.bindings, ".": (x, elem_kind)},
            ).parse_full()

        _, kkind = key_of(F.get(subject, 0))
        if kkind not in ("string", "int", "number", "boolean", "null"):
            raise JQUnsupported(
                f"jq: {name} key kind {kkind!r} outside the native subset"
            )

        def cmp(a: Column, b: Column) -> Column:
            ka, kb = key_of(a)[0], key_of(b)[0]
            return (
                F.when(ka.eqNullSafe(kb), F.lit(0))
                .when(ka.isNull(), F.lit(-1))
                .when(kb.isNull(), F.lit(1))
                .when(ka < kb, F.lit(-1))
                .otherwise(F.lit(1))
            )

        if name == "group_by":
            # jq: sort_by(key), then split adjacent equal-key runs;
            # groups come out ascending by key (null-key group FIRST —
            # sort_array's null placement, unlike array_sort's), and
            # elements inside a group keep their stable-sorted (==
            # original) relative order because F.filter preserves
            # element order.
            from pyspark.sql import types as T

            def groups(s: Column) -> Column:
                keys_all = F.transform(s, lambda x: key_of(x)[0])
                return F.transform(
                    F.sort_array(F.array_distinct(keys_all)),
                    lambda k: F.filter(
                        s, lambda x: key_of(x)[0].eqNullSafe(k)
                    ),
                )

            return (
                _let(subject, groups),
                ("complex_obj_arr", T.ArrayType(kind[1])),
            )

        sorted_col = F.array_sort(subject, cmp)
        if name == "sort_by":
            return sorted_col, kind
        if name == "min_by":
            # jq: min_by([]) is null; F.get on empty is null
            return F.get(sorted_col, 0), elem_kind
        if name == "max_by":
            return F.get(sorted_col, F.size(sorted_col) - 1), elem_kind
        # unique_by: first element of each key group in sorted order
        def firsts(s: Column) -> Column:
            def keep(x: Column, i: Column) -> Column:
                prev = F.get(s, i - 1)
                return (i == 0) | ~key_of(x)[0].eqNullSafe(key_of(prev)[0])

            return F.filter(s, keep)

        return _let(sorted_col, firsts), kind

    @staticmethod
    def _safe_regex(pat: str | None, forbid_empty_match: bool = False) -> str:
        """Gate a literal regex to the syntax subset where Java and
        Oniguruma provably agree: no dynamic patterns, no inline-flag
        groups, no ``\\p`` classes, no backrefs. ``forbid_empty_match``
        additionally rejects patterns that can match the empty string
        (sub/gsub on zero-width matches inserts at different positions
        across engines)."""
        if (
            not isinstance(pat, str)
            or "(?" in pat
            or "\\p" in pat
            or re.search(r"\\\d", pat)
        ):
            raise JQUnsupported("jq: regex pattern outside native subset")
        if forbid_empty_match:
            try:
                can_match_empty = re.compile(pat).match("") is not None
            except re.error:
                raise JQUnsupported("jq: unparseable regex pattern")
            if can_match_empty:
                raise JQUnsupported(
                    "jq: zero-width-match pattern outside native subset"
                )
        return pat

    def _format_string(
        self, name: str, subject: Column, kind: str
    ) -> tuple[Column, str]:
        """jq ``@format`` strings: @text/@base64 on scalars (tostring
        first, as jq does), @csv/@tsv on provable arrays. Null array
        ELEMENTS render empty exactly as jq; a null ARRAY yields null
        (the usual total-function relaxation where jq errors)."""
        if name in ("@text", "@base64"):
            if kind == "string":
                s = F.coalesce(subject, F.lit("null"))
            elif kind in ("int", "boolean"):
                s = F.coalesce(subject.cast("string"), F.lit("null"))
            elif kind == "null":
                s = F.lit("null")
            else:
                raise JQUnsupported(
                    f"jq: {name} on kind {kind!r} outside the native subset"
                )
            if name == "@text":
                return s, "string"
            return F.base64(s.cast("binary")), "string"
        if name == "@base64d":
            # inverse of @base64 (jq 1.6 has it); non-base64 input is
            # engine-dependent garbage in jq too, so no gate needed
            # beyond the string kind
            if kind != "string":
                raise JQUnsupported(
                    f"jq: @base64d on kind {kind!r} outside the native subset"
                )
            return F.unbase64(subject).cast("string"), "string"
        if name == "@json":
            # @json is tojson applied to the interpolated value
            return self._tojson(subject, kind)
        if name == "@html":
            # jq 1.6 escapes exactly these five, ' as &apos; (probed);
            # tostring applies first, as with @text. Order matters:
            # '&' must escape before the entity substitutions.
            s, _ = self._format_string("@text", subject, kind)
            for raw, ent in (
                ("&", "&amp;"),
                ("<", "&lt;"),
                (">", "&gt;"),
                ("'", "&apos;"),
                ('"', "&quot;"),
            ):
                s = F.replace(s, F.lit(raw), F.lit(ent))
            return s, "string"
        if name == "@uri":
            # percent-encoding: jq's safe set is JS encodeURIComponent's
            # [A-Za-z0-9-_.!~*'()] (probed: *, ~, ' stay literal);
            # Java's url_encode shares the alnum/-_.* core but turns
            # space into '+' and encodes !~'(). Each fix-up sequence
            # ('+', '%7E', '%21', '%27', '%28', '%29') can ONLY arise
            # from its source character (a literal '%' input encodes to
            # '%25...'), so the post-replaces are exact.
            s, _ = self._format_string("@text", subject, kind)
            s = F.url_encode(s)
            for enc, lit in (
                ("+", "%20"),
                ("%7E", "~"),
                ("%21", "!"),
                ("%27", "'"),
                ("%28", "("),
                ("%29", ")"),
            ):
                s = F.replace(s, F.lit(enc), F.lit(lit))
            return s, "string"
        if name == "@sh":
            # POSIX single-quote wrap with '\'' for embedded quotes;
            # jq leaves numbers unquoted, so strings only
            if kind != "string":
                raise JQUnsupported(
                    f"jq: @sh on kind {kind!r} outside the native subset"
                )
            return (
                F.concat(
                    F.lit("'"),
                    F.replace(subject, F.lit("'"), F.lit("'\\''")),
                    F.lit("'"),
                ),
                "string",
            )
        if name in ("@csv", "@tsv"):
            if kind not in ("complex_str", "complex_num"):
                raise JQUnsupported(
                    f"jq: {name} native only on provable string/integral "
                    "arrays"
                )
            sep = "," if name == "@csv" else "\t"
            if kind == "complex_num":
                cells = F.transform(
                    subject,
                    lambda x: F.coalesce(x.cast("string"), F.lit("")),
                )
            elif name == "@csv":
                # strings quoted, inner quotes doubled; null cells empty
                cells = F.transform(
                    subject,
                    lambda x: F.coalesce(
                        F.concat(
                            F.lit('"'),
                            F.replace(x, F.lit('"'), F.lit('""')),
                            F.lit('"'),
                        ),
                        F.lit(""),
                    ),
                )
            else:
                # @tsv escapes \\, tab, newline, carriage return
                def esc(x: Column) -> Column:
                    x = F.replace(x, F.lit("\\"), F.lit("\\\\"))
                    x = F.replace(x, F.lit("\t"), F.lit("\\t"))
                    x = F.replace(x, F.lit("\n"), F.lit("\\n"))
                    return F.replace(x, F.lit("\r"), F.lit("\\r"))

                cells = F.transform(
                    subject, lambda x: F.coalesce(esc(x), F.lit(""))
                )
            return (
                F.when(subject.isNotNull(), F.concat_ws(sep, cells)),
                "string",
            )
        raise JQUnsupported(f"jq: format {name!r} not in native subset")

    def _tojson(self, subject: Column, kind: str) -> tuple[Column, str]:
        """``tojson`` for provable kinds whose JSON form Spark prints
        exactly as jq does (strings, integrals, booleans, arrays
        thereof). Trick: ``to_json`` only accepts containers, so wrap
        in a 1-element array and strip the brackets — JSON escaping
        comes out standard-minimal on both paths. Fractional kinds
        diverge (5.0 vs 5) and stay on the binary."""
        if kind == "null":
            return F.lit("null"), "string"
        if kind not in (
            "string", "int", "boolean", "complex_str", "complex_num",
        ):
            raise JQUnsupported(
                f"jq: tojson on kind {kind!r} outside the native subset"
            )
        j = F.to_json(F.array(subject))
        return F.substring(j, 2, F.length(j) - 2), "string"

    def _piped_func(
        self,
        name: str,
        subject: Column,
        kind: str,
        args: list[Column],
        lit_args: list[str | None],
        arg_kinds: list[str] | None = None,
    ) -> tuple[Column, str]:
        arg_kinds = arg_kinds or ["unknown"] * len(args)

        def need(k: str):
            if kind != k:
                raise JQUnsupported(
                    f"jq: {name} on unprovable kind {kind!r} (need {k})"
                )

        if name in ("startswith", "endswith", "contains") and len(args) == 1:
            need("string")
            fn = {
                "startswith": Column.startswith,
                "endswith": Column.endswith,
                "contains": Column.contains,
            }[name]
            return fn(subject, args[0]), "boolean"
        if name == "test" and len(args) in (1, 2):
            need("string")
            pat = self._safe_regex(lit_args[0])
            if len(args) == 2:
                flags = lit_args[1]
                if flags != "i":
                    raise JQUnsupported(
                        f"jq: test() flags {flags!r} outside native subset"
                    )
                pat = "(?i)" + pat
            return subject.rlike(pat), "boolean"
        if name in ("sub", "gsub") and len(args) == 2:
            need("string")
            pat = self._safe_regex(lit_args[0], forbid_empty_match=True)
            repl = lit_args[1]
            if not isinstance(repl, str) or "\\" in repl or "$" in repl:
                # dynamic replacements, jq capture interpolation, and
                # Java replacement metacharacters stay on the binary
                raise JQUnsupported(
                    "jq: sub/gsub replacement outside native subset"
                )
            if name == "gsub":
                return F.regexp_replace(subject, pat, repl), "string"
            # sub replaces only the FIRST match: splice around it.
            # Empty-match patterns were rejected above, so a match has
            # length >= 1 and regexp_instr/extract agree on it.
            m = F.regexp_extract(subject, pat, 0)
            pos = F.regexp_instr(subject, F.lit(pat))
            spliced = F.concat(
                F.substring(subject, 1, pos - 1),
                F.lit(repl),
                F.substring(
                    subject,
                    pos + F.length(m),
                    F.length(subject),
                ),
            )
            return (
                F.when(subject.rlike(pat), spliced).otherwise(subject),
                "string",
            )
        if name == "tojson" and not args:
            return self._tojson(subject, kind)
        if name == "flatten" and not args:
            # one-level flatten of a grouped array back to an object
            # array (the group_by round-trip); deeper/mixed nesting
            # stays on the binary
            if isinstance(kind, tuple) and kind[0] == "complex_obj_arr":
                return F.flatten(subject), ("complex_obj", kind[1].elementType)
            raise JQUnsupported(
                f"jq: flatten on kind {kind!r} outside the native subset"
            )
        if name in ("ltrimstr", "rtrimstr") and len(args) == 1:
            need("string")
            s = lit_args[0]
            if not isinstance(s, str):
                # jq evaluates argument filters against the PIPED input
                # (a string here), so `.a | ltrimstr(.b)` ERRORS in jq
                # — a root-record compile would succeed where jq fails.
                # Literal affixes only.
                raise JQUnsupported(f"jq: {name} needs a literal string")
            n = len(s)
            if name == "ltrimstr":
                out = F.when(
                    subject.startswith(s),
                    subject.substr(F.lit(n + 1), F.length(subject)),
                ).otherwise(subject)
            else:
                out = F.when(
                    subject.endswith(s),
                    subject.substr(F.lit(1), F.length(subject) - n),
                ).otherwise(subject)
            return out, "string"
        if name == "split" and len(args) == 1:
            need("string")
            s = lit_args[0]
            if not isinstance(s, str) or s == "":
                raise JQUnsupported("jq: split needs a non-empty literal")
            # jq: "" | split(s) == [] — Spark's split gives [""]
            out = F.when(
                F.length(subject) == 0, F.array().cast("array<string>")
            ).otherwise(F.split(subject, re.escape(s), -1))
            return out, "complex_str"
        if name == "not" and not args:
            need("boolean")
            return F.coalesce(subject == F.lit(False), F.lit(True)), "boolean"
        if name in ("sort", "unique", "reverse", "add") and not args:
            if (
                name == "reverse"
                and isinstance(kind, tuple)
                and kind[0] == "complex_obj"
            ):
                return F.reverse(subject), kind
            if kind not in ("complex_str", "complex_num"):
                raise JQUnsupported(
                    f"jq: {name} native only on provable array<string>/"
                    "array<integral> (mixed-type jq ordering can't be "
                    "proven from schema)"
                )
            if name == "sort":
                # jq sorts by codepoint (strings) / numerically, and
                # null sorts FIRST (null is the smallest jq type);
                # sort_array places null elements at the beginning in
                # ascending order — array_sort would put them last
                # (ADVICE r2: null-element ordering parity)
                return F.sort_array(subject), kind
            if name == "unique":
                return F.sort_array(F.array_distinct(subject)), kind
            if name == "reverse":
                return F.reverse(subject), kind
            # add == reduce .[] as $x (null; . + $x): null elements are
            # the '+' identity, and an all-null/empty array adds to
            # null — filter nulls out, then [] | add == null via the
            # size guard
            nn = F.filter(subject, lambda x: x.isNotNull())
            if kind == "complex_num":
                return (
                    F.when(
                        F.size(nn) > 0,
                        F.aggregate(
                            nn, F.lit(0).cast("long"), lambda a, x: a + x
                        ),
                    ),
                    "int",
                )
            return (
                F.when(F.size(nn) > 0, F.concat_ws("", subject)),
                "string",
            )
        if name == "length" and not args:
            if kind == "string":
                return F.length(subject), "int"
            if (
                isinstance(kind, tuple)
                and kind[0] in ("complex_obj", "complex_obj_arr")
            ) or kind in (
                "complex", "complex_str", "complex_num", "complex_bool",
            ):
                # jq: null | length == 0 (Spark size(null) is null)
                return F.coalesce(F.size(subject), F.lit(0)), "int"
            raise JQUnsupported(f"jq: length on kind {kind!r}")
        if name in ("min", "max") and not args:
            if kind not in ("complex_str", "complex_num"):
                raise JQUnsupported(
                    f"jq: {name} native only on provable string/integral arrays"
                )
            elem_kind = "string" if kind == "complex_str" else "int"
            if name == "max":
                # null sorts smallest in jq, so max ignores null
                # elements — exactly array_max's null handling
                return F.array_max(subject), elem_kind
            # min: a null ELEMENT is jq's smallest value, so any null
            # makes the min null — array_min would skip it
            return (
                F.when(
                    F.exists(subject, lambda x: x.isNull()),
                    F.lit(None),
                ).otherwise(F.array_min(subject)),
                elem_kind,
            )
        if name in ("first", "last") and not args:
            if isinstance(kind, tuple) and kind[0] == "complex_obj":
                elem_kind = ("obj", kind[1].elementType)
            elif isinstance(kind, tuple) and kind[0] == "complex_obj_arr":
                elem_kind = ("complex_obj", kind[1].elementType)
            elif kind in ("complex_str", "complex_num", "complex_bool"):
                elem_kind = {
                    "complex_str": "string",
                    "complex_num": "int",
                    "complex_bool": "boolean",
                }[kind]
            elif kind == "null":
                # probed 1.6: null | first == null (absent paths too)
                return F.lit(None), "null"
            else:
                raise JQUnsupported(
                    f"jq: {name} native only on provable arrays"
                )
            if name == "first":
                # jq first == .[0]: null on empty — F.get is total
                return F.get(subject, 0), elem_kind
            return F.get(subject, F.size(subject) - 1), elem_kind
        if name in ("any", "all") and not args:
            if kind != "complex_bool":
                raise JQUnsupported(
                    f"jq: {name} native only on provable array<boolean>"
                )
            # jq truthiness: null elements are falsy ([true,null]|all is
            # false, [null]|any is false) — coalesce each element so
            # Spark's three-valued forall/exists can't yield NULL
            if name == "any":
                return (
                    F.exists(subject, lambda x: F.coalesce(x, F.lit(False))),
                    "boolean",
                )
            return (
                F.forall(subject, lambda x: F.coalesce(x, F.lit(False))),
                "boolean",
            )
        if name == "tostring" and not args and kind in ("int", "boolean"):
            # integral and boolean serializations match jq exactly
            # ("5", "true"); null input stringifies to "null" — the
            # same coalesce as interpolation, keeping the native path
            # row-identical to the binary fallback. Fractional kinds
            # stay on the binary below.
            return (
                F.coalesce(subject.cast("string"), F.lit("null")),
                "string",
            )
        if name == "join" and len(args) == 1:
            if kind != "complex_str":
                raise JQUnsupported(
                    "jq: join() native only on provable array<string> "
                    "(numeric arrays stringify differently in jq)"
                )
            sep = lit_args[0]
            if not isinstance(sep, str):
                raise JQUnsupported("jq: join needs a literal separator")
            # jq errors on a null input array; the native path is total
            # and yields NULL for that record instead (documented
            # relaxation — jq would abort the whole batch). Null
            # ELEMENTS become empty strings exactly as in jq
            # (["a",null,"b"]|join("-") == "a--b"); bare concat_ws
            # would SKIP them (ADVICE r2).
            return (
                F.when(
                    subject.isNotNull(),
                    F.concat_ws(
                        sep, F.transform(subject, lambda x: F.coalesce(x, F.lit("")))
                    ),
                ),
                "string",
            )
        if name in ("ascii_downcase", "ascii_upcase") and not args:
            need("string")
            return _ascii_case(subject, name == "ascii_upcase"), "string"
        if name == "tonumber" and not args:
            # jq: tonumber("5") prints 5, a double cast prints 5.0 —
            # integer-vs-float output divergence, so binary path only
            raise JQUnsupported("jq: tonumber outside the native subset")
        if name == "tostring" and not args:
            if kind == "string":
                # null | tostring == "null" in jq (and through the
                # null-dropping fallback serialization)
                return F.coalesce(subject, F.lit("null")), "string"
            if kind in ("complex_str", "complex_num", "null"):
                # jq stringifies containers as their JSON text
                return self._tojson(subject, kind)
            # fractional tostring diverges (Spark "5.0" vs jq "5");
            # keep those off the native path
            raise JQUnsupported("jq: tostring on non-string via pipe")
        if name in ("floor", "ceil", "fabs") and not args:
            if kind not in ("int", "number"):
                raise JQUnsupported(
                    f"jq: {name} on unprovable kind {kind!r} (need number)"
                )
            fn = {"floor": F.floor, "ceil": F.ceil, "fabs": F.abs}[name]
            # floor/ceil return integral values (jq prints them as
            # ints; Spark's floor/ceil return LongType); fabs keeps
            # its operand's kind
            return fn(subject), ("int" if name != "fabs" else kind)
        if name in ("sqrt", "exp", "log", "log10") and not args:
            # NOT log2: jq links C log2() while Spark evaluates
            # log(x)/log(2) — last-ulp divergence (probed: 100|log2 is
            # ...724 in jq vs ...725 here), so log2 stays on the
            # binary. sqrt/exp/log/log10 map to the same libm calls
            # via java.lang.Math and match bit-for-bit.
            if kind not in ("int", "number"):
                raise JQUnsupported(
                    f"jq: {name} on unprovable kind {kind!r} (need number)"
                )
            fn = {
                "sqrt": F.sqrt,
                "exp": F.exp,
                "log": F.log,
                "log10": F.log10,
            }[name]
            return _jq_math_edges(fn(subject.cast("double"))), "number"
        if name == "round" and not args:
            if kind == "int":
                return subject, "int"
            if kind != "number":
                raise JQUnsupported(
                    f"jq: round on unprovable kind {kind!r} (need number)"
                )
            # jq's round is C round(): half away from zero — exactly
            # Spark's HALF_UP mode (2.5 -> 3, -2.5 -> -3, probed
            # against jq 1.6). Cast to long so the output prints as an
            # integer like jq does; doubles beyond long range would
            # diverge, but jq programs rounding >9e18 don't exist.
            return F.round(subject).cast("long"), "int"
        if name == "type" and not args:
            # jq type names. A NULL value types as "null" — the same
            # absent≡null relaxation as has()/keys: sources normalize
            # ragged JSON into schema columns with absent -> NULL, and
            # the binary fallback's to_json serialization drops NULL
            # fields, so the two paths agree row-by-row.
            base = kind[0] if isinstance(kind, tuple) else kind
            if base == "null":
                return F.lit("null"), "string"
            type_name = {
                "string": "string",
                "int": "number",
                "number": "number",
                "boolean": "boolean",
                "complex_str": "array",
                "complex_num": "array",
                "complex_bool": "array",
                "complex_obj": "array",
                "complex_obj_arr": "array",
                "obj": "object",
            }.get(base)
            if type_name is None:
                # "complex" covers MapType/BinaryType too — can't prove
                # the JSON container class, route to the binary
                raise JQUnsupported(f"jq: type on unprovable kind {kind!r}")
            return (
                F.when(subject.isNotNull(), F.lit(type_name)).otherwise(
                    F.lit("null")
                ),
                "string",
            )
        if name == "utf8bytelength" and not args:
            need("string")
            # jq counts UTF-8 bytes; octet_length counts the encoded
            # bytes of the (UTF-8) string — identical. Null input is
            # null where jq errors (the usual total-function relaxation).
            return F.octet_length(subject), "int"
        if name in ("index", "rindex") and len(args) == 1:
            need("string")
            sub = lit_args[0]
            if not isinstance(sub, str) or sub == "":
                # dynamic needles evaluate against the piped input in
                # jq (same pitfall as ltrimstr); index("") infinite-
                # loops in jq 1.6, so no surviving program uses it
                raise JQUnsupported(f"jq: {name} needs a non-empty literal")
            if name == "index":
                pos = F.locate(sub, subject)
                # jq returns a 0-based BYTE offset (UTF-8) or null when
                # absent — '"héllo" | index("llo")' is 3 in jq 1.6, not
                # the codepoint offset 2. locate gives a 1-based CHAR
                # position; the byte offset is the encoded length of
                # the prefix before it.
                return (
                    F.when(
                        pos > 0,
                        F.octet_length(F.substring(subject, F.lit(1), pos - 1)),
                    ),
                    "int",
                )
            # jq 1.6's rindex is the LAST NON-OVERLAPPING match
            # scanning left-to-right (built on indices/1):
            # "aaa"|rindex("aa") == 0, not 1 (probed). The reversed-
            # locate trick finds the last OVERLAPPING match, so only
            # needles that cannot overlap themselves (no proper border:
            # no k with prefix(k) == suffix(k)) compile natively — for
            # those the two definitions coincide.
            if any(sub[:k] == sub[-k:] for k in range(1, len(sub))):
                raise JQUnsupported(
                    "jq: rindex on a self-overlapping needle diverges "
                    "from jq 1.6 (non-overlapping indices) — binary path"
                )
            p = F.locate(sub[::-1], F.reverse(subject))
            # char offset of the match start, then the same
            # char-position → UTF-8-byte-offset conversion as index
            cpos = F.length(subject) - p - (len(sub) - 1)
            return (
                F.when(
                    p > 0,
                    F.octet_length(F.substring(subject, F.lit(1), cpos)),
                ),
                "int",
            )
        if name == "inside" and len(args) == 1:
            need("string")
            if not isinstance(lit_args[0], str):
                # jq evaluates the argument filter against the PIPED
                # input, so `.a | inside(.b)` errors in jq — literal
                # haystacks only (same rule as ltrimstr)
                raise JQUnsupported("jq: inside needs a literal string")
            # string inside(b) == b contains a; ""|inside(x) is true
            # and x|inside("") is false for nonempty x — exactly
            # Column.contains on those edges (probed against jq 1.6)
            return F.lit(lit_args[0]).contains(subject), "boolean"
        if name == "splits" and len(args) in (1, 2):
            # splits(re) is the STREAM form of split(re; flags):
            # only the [EXPR | splits(re)] collection — which equals
            # split/2 exactly — is Column-expressible (same marker
            # protocol as scan)
            need("string")
            if self.peek() != "]":
                raise JQUnsupported(
                    "jq: splits outside [..] collection emits a stream "
                    "— binary path"
                )
            col, _k = self._piped_func(
                "split",
                subject,
                kind,
                args if len(args) == 2 else args + [F.lit("")],
                lit_args if len(args) == 2 else lit_args + [""],
                arg_kinds,
            )
            return col, "stream_str"
        if name == "split" and len(args) == 2:
            need("string")
            pat = self._safe_regex(lit_args[0], forbid_empty_match=True)
            flags = lit_args[1]
            if flags is None or flags not in ("", "i"):
                raise JQUnsupported(
                    "jq: split/2 flags outside native subset (need literal"
                    ' "" or "i")'
                )
            if flags == "i":
                pat = "(?i)" + pat
            # jq 1.6 regex split keeps trailing empty fields and maps
            # "" -> [""] ("xx"|split("x";"") == ["","",""] — probed),
            # which is exactly Java split with limit -1. NOTE this
            # differs from jq's own split/1 ("" -> []), handled above.
            return F.split(subject, pat, -1), "complex_str"
        if name in ("todate", "todateiso8601") and not args:
            if kind != "int":
                raise JQUnsupported(
                    "jq: todate native only on provable integral epochs "
                    "(fractional epochs truncate in jq's gmtime)"
                )
            # the engine pins spark.sql.session.timeZone=UTC
            # (session.py), so from_unixtime renders the exact
            # gmtime/ISO-8601 form jq prints
            return (
                F.from_unixtime(subject, "yyyy-MM-dd'T'HH:mm:ss'Z'"),
                "string",
            )
        if name == "scan" and len(args) == 1:
            need("string")
            pat = self._safe_regex(lit_args[0], forbid_empty_match=True)
            if "(" in pat:
                raise JQUnsupported(
                    "jq: scan with capture groups emits arrays — binary path"
                )
            if self.peek() != "]":
                # scan emits a STREAM of matches; only the immediately
                # array-collected form [EXPR | scan(re)] is expressible
                # as a Column (parse_bracket unwraps the marker kind).
                # Any other context would silently wrap the match list
                # as a single value where jq fans out.
                raise JQUnsupported(
                    "jq: scan outside [..] collection emits a stream — "
                    "binary path"
                )
            # non-overlapping left-to-right matches, exactly Java's
            # regexp_extract_all with group 0 (probed: "a1b22c" |
            # [scan("[0-9]+")] == ["1","22"])
            return (
                F.regexp_extract_all(subject, F.lit(pat), 0),
                "stream_str",
            )
        if name in ("fromdate", "fromdateiso8601") and not args:
            need("string")
            # unparseable dates yield null where jq aborts the batch
            # (total-function relaxation) — try_to_timestamp, because
            # to_unix_timestamp THROWS under ANSI mode (Spark 4
            # default), which is neither jq's abort nor the documented
            # null. UTC session timezone makes the epoch-seconds cast
            # exact; this null-iff-error shape is also what lets
            # `try (.. | fromdate) catch C` compile to coalesce.
            return (
                F.try_to_timestamp(
                    subject, F.lit("yyyy-MM-dd'T'HH:mm:ss'Z'")
                ).cast("long"),
                "int",
            )
        if name in ("isnan", "isinfinite") and not args:
            # TOTAL in jq 1.6 (probed): non-numbers — null, strings,
            # booleans, containers — return false rather than erroring,
            # so every kind compiles
            if kind == "double":
                if name == "isnan":
                    col = F.isnan(subject)
                else:
                    col = F.abs(subject) == F.lit(float("inf"))
                return F.coalesce(col, F.lit(False)), "boolean"
            return F.lit(False), "boolean"
        if name == "has" and len(args) == 1:
            # jq 1.6 probed: null | has(k) == false (newer jqs error);
            # strings/numbers error in jq, so those kinds stay on the
            # binary (which errors identically). Object keys are
            # static in the native kind lattice → constant membership.
            if kind == "null":
                return F.lit(False), "boolean"
            if isinstance(kind, tuple) and kind[0] == "obj":
                if lit_args[0] is None or arg_kinds[0] != "string":
                    raise JQUnsupported(
                        "jq: has on objects needs a literal string key"
                    )
                present = lit_args[0] in kind[1].fieldNames()
                return subject.isNotNull() & F.lit(present), "boolean"
            if kind in ("complex_str", "complex_num", "complex_bool") or (
                isinstance(kind, tuple) and kind[0] == "complex_obj"
            ):
                if lit_args[0] is None or arg_kinds[0] != "int":
                    raise JQUnsupported(
                        "jq: has on arrays needs a literal integer index"
                    )
                n = int(lit_args[0])
                col = F.lit(n >= 0) & (F.size(subject) > F.lit(n))
                return F.coalesce(col, F.lit(False)), "boolean"
            raise JQUnsupported(
                f"jq: has on kind {kind!r} type-errors in jq — binary path"
            )
        raise JQUnsupported(f"jq: piped function {name!r} not in native subset")

    def parse_atom(self) -> tuple[Column, str]:
        t = self.next()
        if t == "(":
            col, kind = self.parse_alt()
            while self.peek() == "|":
                self.next()
                col, kind = self.parse_piped(col, kind)
            self.expect(")")
            return col, kind
        if t in ("env", "$ENV") and (self.peek() or "").startswith("."):
            # env.FOO: the reference runs jq as a subprocess of the
            # engine (ext/jq/connector.go:102 exec.CommandContext), so
            # jq's env IS the pipeline's env — compile-time lookup on
            # the driver reads the same variables. Missing -> null,
            # exactly jq. Nested access (env.FOO.BAR indexes a string)
            # errors in jq, so it routes to the binary.
            import os as _os

            key_tok = self.next()
            key = key_tok[1:].rstrip("?")
            if "." in key or "[" in key:
                raise JQUnsupported(f"jq: nested env access {key_tok!r}")
            val = _os.environ.get(key)
            if val is None:
                return F.lit(None), "null"
            return F.lit(val), "string"
        if t.startswith('"'):
            if "\\(" in t:
                return self._interpolate(t)
            return F.lit(json.loads(t)), "string"
        if re.fullmatch(r"-?\d+", t):
            return F.lit(int(t)), "int"
        if re.fullmatch(r"-?\d+\.\d+", t):
            return F.lit(float(t)), "number"
        if t == "null":
            return F.lit(None), "null"
        if t in ("true", "false"):
            return F.lit(t == "true"), "boolean"
        if t.startswith("$"):
            if t in self.bindings:
                return self.bindings[t]
            # stage-level `EXPR as $x` bindings materialize as hidden
            # columns (translate_jq), so the variable survives later
            # projections; kind re-derives from the column's dtype
            hid = _VAR_PREFIX + t[1:]
            if hid in self.df.columns:
                dtype = next(
                    f.dataType for f in self.df.schema.fields if f.name == hid
                )
                return F.col("`" + hid + "`"), _kind_of_dtype(dtype)
            raise JQUnsupported(f"jq: unbound variable {t}")
        if t == "." and "." in self.bindings:
            # inside a reduce/foreach body '.' is the accumulator
            return self.bindings["."]
        if t.startswith(".") and t != ".":
            # `.a?` == `.a` here: native paths are TOTAL (absent/wrong
            # type reads null, never errors), which is exactly what the
            # `?` suppresses in jq
            t = t.rstrip("?")
            if "." in self.bindings:
                # inside map/sort_by/reduce bodies '.' is the current
                # element; a path reads FROM the element (jq scoping),
                # not from the record
                bcol, bkind = self.bindings["."]
                if isinstance(bkind, tuple) and bkind[0] == "obj":
                    return self._struct_path(bcol, bkind[1], t)
                # scalar-bound '.': a path into a scalar is null in jq
                return F.lit(None), "null"
            root = t[1:].split(".")[0].split("[")[0]
            if root not in self.df.columns:
                # jq: absent keys read as null. Compiling F.col would
                # raise AnalysisException (crash, not fallback).
                return F.lit(None), "null"
            return _path_col(t), self._path_kind(t)
        if t == ".":
            if self.peek() == "[":
                # ROOT dynamic object index `.[EXPR]`: the record IS
                # the object; CASE chain over the (static) record
                # columns, same contract as the struct form above
                self.next()
                c, k = self.parse_or()
                self.expect("]")
                if k not in ("string", "unknown"):
                    raise JQUnsupported(
                        "jq: object index must be a string (jq errors "
                        "on non-string keys) — binary"
                    )
                fields = [
                    f
                    for f in self.df.schema.fields
                    if f.name in _record_columns(self.df)
                ]
                return _dynamic_obj_index(
                    lambda name: F.col("`" + name + "`"), fields, c
                )
            raise JQUnsupported("jq: bare '.' in scalar expression")
        if t == "if":
            return self.parse_if()
        if t == "try":
            return self.parse_try()
        if t == "until":
            subj = self.bindings.get(".")
            if subj is None:
                raise JQUnsupported(
                    "jq: until over the record object (numeric "
                    "conditions error in jq) — binary path"
                )
            return self._compile_until(*subj)
        if t == "repeat":
            raise JQUnsupported(
                "jq: bare repeat never terminates in jq 1.6 — only "
                "[limit(n; repeat(f))] is native"
            )
        if t == "while":
            raise JQUnsupported(
                "jq: bare while emits a stream — only the "
                "[while(...)] collected form is native"
            )
        if t == "reduce":
            return self.parse_reduce_foreach("reduce")
        if t == "foreach":
            # a bare foreach emits one value PER ELEMENT — record
            # fan-out, not expressible as a scalar Column; only the
            # array-collected [foreach ...] form is native
            raise JQUnsupported(
                "jq: bare foreach emits a stream — binary path"
            )
        if t == "[":
            return self.parse_bracket()
        if t == "{":
            return self.parse_object_expr()
        # function call: fn(arg) or zero-arg builtins applied via pipe
        if re.fullmatch(r"[A-Za-z_]\w*", t):
            return self.parse_func(t)
        raise JQUnsupported(f"jq: unexpected token {t!r}")

    def parse_object_expr(self) -> tuple[Column, str]:
        """Object construction in EXPRESSION position → ``F.struct``
        (nested objects in output records). Field order follows source
        order, as jq's does; to_json's default null-dropping keeps the
        serialization consistent with top-level records. The opening
        '{' is already consumed."""
        toks, _ = self._capture_until(("}",))
        entries = _parse_object(["{"] + toks + ["}"])
        cols = []
        kinds = []
        for e in entries:
            col, k = _ExprParser(
                list(e.expr_toks), self.df, self.bindings
            ).parse_full()
            cols.append(col.alias(e.key))
            kinds.append(k)
        if not cols:
            raise JQUnsupported("jq: empty object literal in expression")
        # derive a parametric ("obj", schema) kind when every field kind
        # maps to a provable Spark type — this is what lets a
        # constructed object be piped further (e.g. map({...}) output
        # feeding sort_by). Unprovable fields fall back to the coarse
        # "complex" kind, which blocks further native piping but still
        # constructs fine.
        from pyspark.sql import types as T

        type_of = {
            "string": T.StringType(),
            "int": T.LongType(),
            "number": T.DoubleType(),
            "boolean": T.BooleanType(),
            "complex_str": T.ArrayType(T.StringType()),
            "complex_num": T.ArrayType(T.LongType()),
            "complex_bool": T.ArrayType(T.BooleanType()),
        }
        fields = []
        for e, k in zip(entries, kinds):
            if isinstance(k, tuple) and k[0] in ("obj", "complex_obj"):
                fields.append(T.StructField(e.key, k[1]))
            elif k in type_of:
                fields.append(T.StructField(e.key, type_of[k]))
            else:
                return F.struct(*cols), "complex"
        return F.struct(*cols), ("obj", T.StructType(fields))

    def _parse_range_literal(self) -> list[int]:
        """Parse ``range(a)`` / ``(a;b)`` / ``(a;b;c)`` with literal
        INTEGER args (the common form; fractional bounds stay on the
        binary) after the ``range`` token; returns the value list."""

        def lit() -> int:
            t = self.next()
            if t == "-":
                t = "-" + self.next()
            if not re.fullmatch(r"-?\d+", t or ""):
                raise JQUnsupported(
                    f"jq: range needs literal integer args, got {t!r}"
                )
            return int(t)

        self.expect("(")
        vals = [lit()]
        while self.peek() == ";":
            self.next()
            vals.append(lit())
        self.expect(")")
        if len(vals) > 3:
            raise JQUnsupported("jq: range takes at most 3 args")
        return _jq_range_values(vals)

    # ---- until / [while] closed forms (VERDICT r11 item 5) --------
    #
    # The provable bounded-iteration subset: condition `. CMP bound`
    # (bound = integer literal or provably-int $var) and update
    # `. +|- <positive integer literal>`. Integer arithmetic makes the
    # closed forms EXACT (n steps of `+ S` is `+ n*S` bit-for-bit);
    # fractional inputs/steps stay on the binary. Directions that
    # cannot terminate compile to raise_error branches — jq 1.6 hangs
    # there, so no program that ever produced output hits them.
    # Probed 1.6 edges (see tests/test_jq_transform.py):
    #   null >= L is FALSE for every L (null sorts below numbers),
    #   null < L is TRUE; null + S == S but null - S ERRORS;
    #   `until` returns the input untouched when the condition already
    #   holds; `[while]` emits the input first (null included).

    _ITER_CMPS = (">=", ">", "<=", "<")

    def _iter_bound(self, btok: str) -> Column:
        if re.fullmatch(r"-?\d+", btok or ""):
            return F.lit(int(btok)).cast("long")
        if (btok or "").startswith("$"):
            if btok in self.bindings:
                c, k = self.bindings[btok]
            elif _VAR_PREFIX + btok[1:] in self.df.columns:
                hid = _VAR_PREFIX + btok[1:]
                c = F.col("`" + hid + "`")
                k = _kind_of_dtype(self.df.schema[hid].dataType)
            else:
                raise JQUnsupported(f"jq: unbound {btok}")
            if k != "int":
                raise JQUnsupported(
                    "jq: until/while bound must be provably integer "
                    f"— got {k!r}, binary path"
                )
            return c.cast("long")
        raise JQUnsupported(
            f"jq: until/while bound {btok!r} outside the "
            "literal/variable subset — binary path"
        )

    def _iter_spec(self) -> tuple[str, Column, int, int]:
        """Parse ``(COND; UPDATE)``: returns
        ``(cmp_op, bound_col, sign, step)``."""
        self.expect("(")
        cond_toks, _ = self._capture_until((";",))
        upd_toks, _ = self._capture_until((")",))
        if (
            len(cond_toks) != 3
            or cond_toks[0] != "."
            or cond_toks[1] not in self._ITER_CMPS
        ):
            raise JQUnsupported(
                "jq: until/while condition outside the "
                "`. CMP bound` closed-form subset — binary path"
            )
        bound = self._iter_bound(cond_toks[2])
        if (
            len(upd_toks) != 3
            or upd_toks[0] != "."
            or upd_toks[1] not in ("+", "-")
            or not re.fullmatch(r"[1-9]\d*", upd_toks[2] or "")
        ):
            raise JQUnsupported(
                "jq: until/while update outside the "
                "`. +|- <positive integer>` closed-form subset — "
                "binary path"
            )
        return (
            cond_toks[1],
            bound,
            1 if upd_toks[1] == "+" else -1,
            int(upd_toks[2]),
        )

    def _compile_until(
        self, subject: Column, kind
    ) -> tuple[Column, str]:
        op, bound, sign, step = self._iter_spec()
        if kind != "int":
            raise JQUnsupported(
                f"jq: until over kind {kind!r} — binary path"
            )
        x = subject.cast("long")
        S = F.lit(step).cast("long")
        err = F.raise_error(
            F.lit(
                "jq until: non-terminating for this input "
                "(native closed form)"
            )
        ).cast("long")
        if sign > 0 and op in (">=", ">"):
            Lp = bound if op == ">=" else bound + F.lit(1)

            def closed(v: Column) -> Column:
                n = F.greatest(
                    F.lit(0).cast("long"), F.ceil((Lp - v) / S)
                )
                return v + n * S

            # null: the condition is false (null < numbers), one
            # update makes it S (null + S == S), then closed form
            return (
                F.when(subject.isNull(), closed(S)).otherwise(
                    closed(x)
                ),
                "int",
            )
        if sign < 0 and op in ("<=", "<"):
            Lp = bound if op == "<=" else bound - F.lit(1)

            def closed(v: Column) -> Column:
                n = F.greatest(
                    F.lit(0).cast("long"), F.ceil((v - Lp) / S)
                )
                return v - n * S

            # null: the condition already holds → null untouched
            return (
                F.when(
                    subject.isNull(), F.lit(None).cast("long")
                ).otherwise(closed(x)),
                "int",
            )
        if sign > 0:  # op <= or <: terminates only if already true
            Lp = bound if op == "<=" else bound - F.lit(1)
            return (
                F.when(subject.isNull(), F.lit(None).cast("long"))
                .when(x <= Lp, x)
                .otherwise(err),
                "int",
            )
        # sign < 0, op >= or >: terminates only if already true
        # (null - S errors in jq → the null branch raises too)
        Lp = bound if op == ">=" else bound + F.lit(1)
        return (
            F.when(subject.isNotNull() & (x >= Lp), x).otherwise(err),
            "int",
        )

    def _compile_while_array(
        self, subject: Column, kind
    ) -> tuple[Column, str]:
        op, bound, sign, step = self._iter_spec()
        if kind != "int":
            raise JQUnsupported(
                f"jq: [while] over kind {kind!r} — binary path"
            )
        x = subject.cast("long")
        S = F.lit(step).cast("long")
        empty = F.array().cast("array<bigint>")
        err = F.raise_error(
            F.lit(
                "jq while: non-terminating for this input "
                "(native closed form)"
            )
        ).cast("array<bigint>")
        if sign > 0 and op in ("<", "<="):
            Lp = bound - F.lit(1) if op == "<" else bound

            def seq(v: Column) -> Column:
                last = v + S * F.floor((Lp - v) / S).cast("long")
                return F.when(
                    v <= Lp, F.sequence(v, last, S)
                ).otherwise(empty)

            # null: emitted first (null < numbers ⇒ condition holds),
            # then null + S == S continues the stream
            return (
                F.when(
                    subject.isNull(),
                    F.concat(
                        F.array(F.lit(None).cast("long")), seq(S)
                    ),
                ).otherwise(seq(x)),
                "complex_num",
            )
        if sign < 0 and op in (">", ">="):
            Lp = bound + F.lit(1) if op == ">" else bound

            def seq(v: Column) -> Column:
                last = v - S * F.floor((v - Lp) / S).cast("long")
                return F.when(
                    v >= Lp,
                    F.sequence(v, last, F.lit(-step).cast("long")),
                ).otherwise(empty)

            # null: condition false (null < numbers) → empty stream
            return (
                F.when(subject.isNull(), empty).otherwise(seq(x)),
                "complex_num",
            )
        if sign > 0:  # op > or >=: emits forever once true
            Lp = bound + F.lit(1) if op == ">" else bound
            return (
                F.when(subject.isNull() | (x < Lp), empty).otherwise(
                    err
                ),
                "complex_num",
            )
        # sign < 0, op < or <=: emits forever once true; null emits
        # itself then errors on null - S in jq
        Lp = bound - F.lit(1) if op == "<" else bound
        return (
            F.when(subject.isNotNull() & (x > Lp), empty).otherwise(
                err
            ),
            "complex_num",
        )

    def _paths_array(self, leaf_only: bool) -> Column:
        """``[paths]`` / ``[leaf_paths]`` of the record as
        array<array<string>> — document-order (schema order), parents
        before children, null values read as ABSENT (the engine's
        canonical to_json serialization drops nulls, so the jq-binary
        fallback agrees row-by-row; raw jq on a literal null value
        diverges — the documented total relaxation, same as has() and
        keys). Arrays/maps anywhere in the schema mean numeric path
        elements (heterogeneous path arrays) and stay on the binary.
        Probed 1.6: {"a":{"b":1},"c":2} → [["a"],["a","b"],["c"]];
        leaf_paths drops the ["a"] prefix; {} → []."""
        from pyspark.sql import types as T

        cands: list[Column] = []

        def walk(path: list[str], col: Column, dt) -> None:
            if isinstance(dt, (T.ArrayType, T.MapType)):
                raise JQUnsupported(
                    "jq: paths through arrays/maps emit numeric path "
                    "elements — binary path"
                )
            is_struct = isinstance(dt, T.StructType)
            if (not leaf_only) or (not is_struct):
                cands.append(
                    F.when(
                        col.isNotNull(),
                        F.array(*[F.lit(k) for k in path]),
                    )
                )
            if is_struct:
                for f in dt.fields:
                    walk(path + [f.name], col.getField(f.name),
                         f.dataType)

        for f in self.df.schema.fields:
            if f.name.startswith(_VAR_PREFIX):
                continue
            walk([f.name], F.col("`" + f.name + "`"), f.dataType)
        if not cands:
            return F.array().cast("array<array<string>>")
        return F.filter(F.array(*cands), lambda x: x.isNotNull())

    def _dynamic_getpath(
        self, elems: list[tuple[Column | None, str, str | None]]
    ) -> tuple[Column, str]:
        """``getpath`` with DYNAMIC string path elements at a static
        length k: a CASE chain over the record's enumerable depth-k
        path set (VERDICT r9 item 3 — the `.[EXPR]` machinery, one
        level deeper).

        Exactness gates (all fail-closed to the binary):

        - every element must be string-kinded — jq errors on numeric
          object indexes, and numbers mean array paths (dynamic
          cardinality);
        - every depth-k leaf (reached through struct levels) must
          share ONE Spark type (a key-dependent result type cannot
          live in a single Column).

        Missing keys anywhere → null, and a null struct value
        mid-path reads null (both probed: ``getpath(["q","d"])`` and
        ``getpath(["a","d"])`` → null). Two TOTAL relaxations, the
        same documented class the rest of the native paths ship
        (absent/wrong-kind reads are null, never errors — see
        ``.[EXPR]``): a NULL KEY value reads null where jq 1.6 errors
        ("Cannot index object with null"), and a runtime key naming a
        SCALAR/ARRAY field mid-walk reads null where jq errors
        ("Cannot index number with ..."); non-struct fields at walk
        depths simply contribute no paths to the CASE chain."""
        from pyspark.sql import types as T

        for _, kind, lit in elems:
            if lit is None and kind != "string":
                raise JQUnsupported(
                    "jq: dynamic getpath elements must be provably "
                    "string-kinded — binary path"
                )
        key_cols = [
            F.lit(lit) if lit is not None else col
            for col, _, lit in elems
        ]
        rec_fields = [
            f
            for f in self.df.schema.fields
            if not f.name.startswith(_VAR_PREFIX)
        ]
        k = len(elems)
        if k == 1:
            col, kind = _dynamic_obj_index(
                lambda n: F.col("`" + n + "`"), rec_fields, key_cols[0]
            )
            return col, kind
        paths: list[tuple[list[str], T.DataType]] = []

        def walk(depth: int, prefix: list[str], fields) -> None:
            for f in fields:
                if depth == k - 1:
                    paths.append((prefix + [f.name], f.dataType))
                elif isinstance(f.dataType, T.StructType):
                    walk(depth + 1, prefix + [f.name],
                         f.dataType.fields)
                # non-struct mid-walk: no paths (total read → null)

        walk(0, [], rec_fields)
        # literal elements prune the candidate set at compile time
        # (and contribute no runtime comparison)
        lits = [lit for _, _, lit in elems]
        paths = [
            p
            for p in paths
            if all(
                l is None or p[0][i] == l for i, l in enumerate(lits)
            )
        ]
        if not paths:
            return F.lit(None), "null"
        dtypes = {dt.simpleString() for _, dt in paths}
        if len(dtypes) != 1:
            raise JQUnsupported(
                "jq: dynamic getpath over mixed leaf types "
                f"({sorted(dtypes)}) — binary path"
            )
        leaf_dt = paths[0][1]
        out = F.lit(None).cast(leaf_dt)
        for parts2, _ in reversed(paths):
            cond: Column | None = None
            val: Column = F.col("`" + parts2[0] + "`")
            for i, p in enumerate(parts2):
                if i > 0:
                    val = val.getField(p)
                if lits[i] is None:
                    term = key_cols[i] == F.lit(p)
                    cond = term if cond is None else cond & term
            out = F.when(cond, val).otherwise(out)
        return out, _kind_of_dtype(leaf_dt)

    def _recursive_type_collect(self, filt: str) -> tuple[Column, str]:
        """``[.. | strings]`` / ``[.. | numbers]`` / ``[.. | booleans]``
        — the recursive-descent census, the highest-frequency ``..``
        idiom (VERDICT r9 item 3). ``..`` is ``def recurse: ., (.[]? |
        recurse)``: pre-order document walk, containers first. With a
        TYPE filter the containers drop out, so the result is exactly
        the matching LEAVES in schema order — a finite set enumerable
        at compile time, like ``[paths]``.

        Probed 1.6: ``{"a":{"b":"x","c":1},"d":"y","e":["p",null,"q"],
        "f":[{"g":"r"},{"g":null,"h":"s"}]} | [.. | strings]`` →
        ``["x","y","p","q","r","s"]`` (array elements in place, null
        elements filtered by the type test, null object fields absent
        under the engine's canonical serialization — the documented
        total relaxation, same as [paths]/keys/has).

        Numbers compile only when every numeric leaf is integral or
        every one is double: jq prints ``2`` vs ``2.0`` by value, so a
        mixed or float/decimal census would diverge in serialization
        — those stay on the binary. Maps are dynamic keys — binary."""
        from pyspark.sql import types as T

        if filt == "strings":
            match = lambda dt: isinstance(dt, T.StringType)  # noqa: E731
        elif filt == "booleans":
            match = lambda dt: isinstance(dt, T.BooleanType)  # noqa: E731
        else:
            match = lambda dt: isinstance(dt, T.NumericType)  # noqa: E731

        leaf_types: list[T.DataType] = []

        def scan(dt) -> None:
            if isinstance(dt, T.MapType):
                raise JQUnsupported(
                    "jq: recursive descent through map columns "
                    "(dynamic keys) — binary path"
                )
            if isinstance(dt, T.StructType):
                for f in dt.fields:
                    scan(f.dataType)
            elif isinstance(dt, T.ArrayType):
                scan(dt.elementType)
            elif match(dt):
                leaf_types.append(dt)

        for f in self.df.schema.fields:
            if not f.name.startswith(_VAR_PREFIX):
                scan(f.dataType)

        integral = (T.ByteType, T.ShortType, T.IntegerType, T.LongType)
        if filt == "numbers":
            if not leaf_types:
                target: T.DataType = T.LongType()
            elif all(isinstance(t, integral) for t in leaf_types):
                target = T.LongType()
            elif all(isinstance(t, T.DoubleType) for t in leaf_types):
                target = T.DoubleType()
            else:
                raise JQUnsupported(
                    "jq: [.. | numbers] over mixed / float / decimal "
                    "leaves — jq prints 2 vs 2.0 by value; binary path"
                )
        elif filt == "strings":
            target = T.StringType()
        else:
            target = T.BooleanType()
        empty = F.array().cast(T.ArrayType(target))

        def has_match(dt) -> bool:
            if isinstance(dt, T.StructType):
                return any(has_match(f.dataType) for f in dt.fields)
            if isinstance(dt, T.ArrayType):
                return has_match(dt.elementType)
            return match(dt)

        def build(col: Column, dt) -> Column:
            # pruned at call sites: dt's subtree contains a match
            if match(dt):
                return F.when(
                    col.isNotNull(), F.array(col.cast(target))
                ).otherwise(empty)
            if isinstance(dt, T.StructType):
                parts = [
                    build(col.getField(f.name), f.dataType)
                    for f in dt.fields
                    if has_match(f.dataType)
                ]
                inner = parts[0] if len(parts) == 1 else F.concat(*parts)
                return F.when(col.isNotNull(), inner).otherwise(empty)
            et = dt.elementType  # ArrayType — the only shape left
            if match(et):
                kept = F.transform(
                    F.filter(col, lambda x: x.isNotNull()),
                    lambda x: x.cast(target),
                )
                return F.when(col.isNotNull(), kept).otherwise(empty)
            per_elem = F.transform(col, lambda e: build(e, et))
            return F.when(
                col.isNotNull(), F.flatten(per_elem)
            ).otherwise(empty)

        parts = [
            build(F.col("`" + f.name + "`"), f.dataType)
            for f in self.df.schema.fields
            if not f.name.startswith(_VAR_PREFIX)
            and has_match(f.dataType)
        ]
        out = (
            empty
            if not parts
            else (parts[0] if len(parts) == 1 else F.concat(*parts))
        )
        return out, _kind_of_dtype(T.ArrayType(target))

    def parse_bracket(self) -> tuple[Column, str]:
        """``[ ... ]`` in expression position: the array-collected
        ``[foreach ...]`` scan, or a literal array of same-kind scalar
        expressions. ``[.[] | ...]`` stream collection is per-batch
        semantics and stays on the jq binary."""
        if self.peek() == "foreach":
            self.next()
            col, kind = self.parse_reduce_foreach("foreach")
            self.expect("]")
            return col, kind
        if self.peek() in ("paths", "leaf_paths"):
            name = self.next()
            if self.peek() == "(":
                raise JQUnsupported(
                    "jq: paths(f) with a filter — binary path"
                )
            self.expect("]")
            if "." in self.bindings:
                raise JQUnsupported(
                    "jq: element-scoped paths — binary path"
                )
            return self._paths_array(name == "leaf_paths"), "complex"
        if self.peek() == "..":
            self.next()
            if "." in self.bindings:
                raise JQUnsupported(
                    "jq: element-scoped recursive descent — binary"
                )
            if self.peek() != "|":
                raise JQUnsupported(
                    "jq: bare [..] is heterogeneous — binary path"
                )
            self.next()
            filt = self.next()
            if filt not in ("strings", "numbers", "booleans"):
                raise JQUnsupported(
                    "jq: [.. | f] beyond the type-filter census — "
                    "binary path"
                )
            self.expect("]")
            return self._recursive_type_collect(filt)
        if self.peek() == "limit":
            # [limit(n; .path[])] — the collected head of an array
            # stream is a slice. Literal counts only; jq 1.6 (the
            # binary the reference ships, Dockerfile:3) emits ONE
            # element for n == 0 (fixed in 1.7) and the ENTIRE stream
            # for n < 0 (probed: '[limit(-2; .ws[])]' returns every
            # element) — both quirks reproduced. first(f) is NOT
            # compiled: on an empty stream jq drops the whole record,
            # which a scalar Column cannot express.
            self.next()
            self.expect("(")
            ntok = self.next()
            n_col = None
            if re.fullmatch(r"\$\w+", ntok):
                # DYNAMIC count (VERDICT r10 missing-item 2): a bound
                # int variable — the 1.6 quirks apply per-row (probed:
                # limit(.n; f) with n=0 emits ONE element, n<0 or
                # null emits the whole stream)
                if ntok in self.bindings:
                    n_col, nkind = self.bindings[ntok]
                elif _VAR_PREFIX + ntok[1:] in self.df.columns:
                    hid = _VAR_PREFIX + ntok[1:]
                    n_col = F.col("`" + hid + "`")
                    nkind = _kind_of_dtype(self.df.schema[hid].dataType)
                else:
                    raise JQUnsupported(f"jq: unbound {ntok}")
                if nkind != "int":
                    raise JQUnsupported(
                        "jq: dynamic limit count must be provably "
                        f"integer-kinded, got {nkind!r} — binary path"
                    )
            elif not re.fullmatch(r"-?\d+", ntok):
                raise JQUnsupported("jq: limit needs a literal count")
            self.expect(";")
            if self.peek() == "repeat":
                # [limit(n; repeat(f))]: jq 1.6's builtin repeat does
                # NOT iterate (probed: '2 | [limit(4; repeat(. * 3))]'
                # → [6,6,6,6]; fixed in 1.7) — every element is f(.)
                # applied ONCE, so the collected form is array_repeat.
                # The 1.6 limit quirks apply: n == 0 emits ONE
                # element; n < 0 never terminates (refuse by name).
                if n_col is not None:
                    raise JQUnsupported(
                        "jq: dynamic limit over repeat — a negative "
                        "count never terminates in jq 1.6, binary "
                        "path"
                    )
                n = int(ntok)
                if n < 0:
                    raise JQUnsupported(
                        "jq: limit(<0; repeat(f)) never terminates "
                        "in jq 1.6 — refusing"
                    )
                self.next()
                self.expect("(")
                upd_toks, _ = self._capture_until((")",))
                self.expect(")")
                self.expect("]")
                sub = _ExprParser(
                    list(upd_toks), self.df, dict(self.bindings)
                )
                val, vkind = sub.parse_full()
                arr_kind = {
                    "int": "complex_num",
                    "number": "complex_num",
                    "string": "complex_str",
                    "boolean": "complex_bool",
                }.get(vkind)
                if arr_kind is None:
                    raise JQUnsupported(
                        f"jq: repeat body kind {vkind!r} outside the "
                        "native subset — binary path"
                    )
                return F.array_repeat(val, max(n, 1)), arr_kind
            ptok = self.next()
            self.expect("[")
            self.expect("]")
            self.expect(")")
            self.expect("]")
            if not (ptok.startswith(".") and ptok != "."):
                raise JQUnsupported(f"jq: limit source {ptok!r}")
            if "." in self.bindings:
                # inside a map/pipe scope the path would read the
                # RECORD, not the bound value — mis-read, refuse
                raise JQUnsupported(
                    "jq: path-sourced limit under a bound '.' — "
                    "binary path"
                )
            kind = self._path_kind(ptok)
            if (
                not (isinstance(kind, tuple) and kind[0] == "complex_obj")
                and kind
                not in ("complex_str", "complex_num", "complex_bool")
            ):
                raise JQUnsupported(
                    f"jq: limit over kind {kind!r} outside the native subset"
                )
            src = _path_col(ptok)
            if n_col is not None:
                # probed 1.6 row-wise: >=1 slices, 0 emits one,
                # negative/null pass the whole stream
                return (
                    F.when(n_col >= 1, F.slice(src, F.lit(1), n_col))
                    .when(n_col == 0, F.slice(src, 1, 1))
                    .otherwise(src)
                ), kind
            n = int(ntok)
            if n < 0:  # jq 1.6: negative limit passes the whole stream
                return src, kind
            return F.slice(src, 1, max(n, 1)), kind
        if self.peek() == "while":
            # [while(cond; update)] over the current '.' — the
            # closed-form subset (see _compile_while_array)
            self.next()
            subj = self.bindings.get(".")
            if subj is None:
                raise JQUnsupported(
                    "jq: [while] over the record object (numeric "
                    "conditions error in jq) — binary path"
                )
            col, kind = self._compile_while_array(*subj)
            self.expect("]")
            return col, kind
        if self.peek() == "range":
            # [range(a)] / [range(a;b)] / [range(a;b;c)]: the sequence
            # is record-independent, computed at compile time with jq
            # 1.6's probed edge semantics (range(0) == [], zero step
            # emits nothing, negative step counts down) — see
            # _jq_range_values
            self.next()
            seq = self._parse_range_literal()
            self.expect("]")
            col = (
                F.array(*[F.lit(v).cast("long") for v in seq])
                if seq
                else F.array().cast("array<bigint>")
            )
            return col, "complex_num"
        if self.peek() == "]":
            self.next()
            return F.array().cast("array<string>"), "complex_str"

        def parse_elem() -> tuple[Column, str]:
            col, kind = self.parse_alt()
            while self.peek() == "|":
                self.next()
                col, kind = self.parse_piped(col, kind)
            return col, kind

        elems = [parse_elem()]
        while self.peek() == ",":
            self.next()
            elems.append(parse_elem())
        self.expect("]")
        if len(elems) == 1 and elems[0][1] == "stream_str":
            # [EXPR | scan(re)]: the stream of matches collected into
            # an array IS regexp_extract_all's result — unwrap the
            # marker kind instead of wrapping the array again
            return elems[0][0], "complex_str"
        if any(k == "stream_str" for _, k in elems):
            raise JQUnsupported(
                "jq: scan mixed with other array elements fans out — "
                "binary path"
            )
        kinds = {k for _, k in elems}
        if kinds == {"string"}:
            return F.array(*[c for c, _ in elems]), "complex_str"
        if kinds == {"int"}:
            return (
                F.array(*[c.cast("long") for c, _ in elems]),
                "complex_num",
            )
        raise JQUnsupported(
            f"jq: array literal of kinds {sorted(kinds)} outside the "
            "native subset"
        )

    def _capture_until(self, stops: tuple[str, ...]) -> tuple[list[str], str]:
        """Consume tokens up to (and including) the first depth-0 stop
        token; return (captured tokens, the stop that ended them)."""
        out: list[str] = []
        depth = 0
        while True:
            t = self.peek()
            if t is None:
                raise JQUnsupported("jq: unterminated reduce/foreach body")
            if depth == 0 and t in stops:
                self.next()
                return out, t
            if t in ("(", "{", "["):
                depth += 1
            elif t in (")", "}", "]"):
                depth -= 1
                if depth < 0:
                    raise JQUnsupported(
                        "jq: unbalanced parens in reduce/foreach"
                    )
            out.append(self.next())

    def parse_reduce_foreach(self, which: str) -> tuple[Column, str]:
        """``reduce .path[] as $x (INIT; UPDATE)`` → ``F.aggregate``;
        ``[foreach .path[] as $x (INIT; UPDATE[; EXTRACT])]`` → an
        aggregate over a ``(acc, out array)`` struct accumulator (a
        scan), both fully native Catalyst (reference query language:
        ext/jq/connector.go:101-127, docs/rfc_002).

        Scope that keeps native == jq bit-for-bit: the source is a
        per-RECORD array path (``reduce .[]`` folds the whole BATCH —
        per-batch aggregation semantics stay on the jq-binary path),
        and accumulators are provably string or integral (float
        accumulation prints 5.0 where jq prints 5). A null source
        array yields NULL where jq errors — the same total-function
        relaxation as join()."""
        ptok = self.next()
        if ptok == ".[]":
            raise JQUnsupported(
                f"jq: {which} over .[] aggregates the batch — per-batch "
                "semantics live on the jq-binary path"
            )
        if ptok == "range":
            # reduce/foreach over a literal integer range: the source
            # sequence is record-independent, so it is computed at
            # compile time with jq 1.6's probed semantics (see
            # _jq_range_values) and folded like any array source
            seq = self._parse_range_literal()
            arr = (
                F.array(*[F.lit(v).cast("long") for v in seq])
                if seq
                else F.array().cast("array<bigint>")
            )
            elem_kind = "int"
        elif not (ptok.startswith(".") and ptok not in (".",)):
            raise JQUnsupported(f"jq: {which} source {ptok!r}")
        else:
            self.expect("[")
            self.expect("]")
            root = ptok[1:].split(".")[0]
            if root not in self.df.columns:
                raise JQUnsupported(
                    f"jq: {which} over absent column {root!r} (jq errors "
                    "on iterating null)"
                )
            arr_kind = self._path_kind(ptok)
            if arr_kind == "complex_str":
                elem_kind = "string"
            elif arr_kind == "complex_num":
                elem_kind = "int"
            else:
                raise JQUnsupported(
                    f"jq: {which} over array kind {arr_kind!r} outside "
                    "the native subset"
                )
            arr = _path_col(ptok)
        if self.next() != "as":
            raise JQUnsupported(f"jq: {which} missing 'as'")
        var = self.next()
        if not var.startswith("$"):
            raise JQUnsupported(f"jq: {which} binds {var!r}, need $name")
        self.expect("(")
        init_toks, _ = self._capture_until((";",))
        upd_toks, sep = self._capture_until((";", ")"))
        ext_toks: list[str] | None = None
        if sep == ";":
            if which != "foreach":
                raise JQUnsupported("jq: reduce takes (init; update)")
            ext_toks, _ = self._capture_until((")",))

        init_col, init_kind = _ExprParser(
            init_toks, self.df, self.bindings
        ).parse_full()
        if init_kind == "int":
            acc_type = "long"
        elif init_kind == "string":
            acc_type = "string"
        else:
            raise JQUnsupported(
                f"jq: {which} accumulator kind {init_kind!r} outside "
                "the native subset (float formatting diverges)"
            )

        def body(toks: list[str], acc: Column, x: Column) -> tuple[Column, str]:
            return _ExprParser(
                list(toks),
                self.df,
                {
                    **self.bindings,
                    ".": (acc, init_kind),
                    var: (x, elem_kind),
                },
            ).parse_full()

        def step(acc: Column, x: Column) -> Column:
            col, k = body(upd_toks, acc, x)
            # an 'unknown' kind (e.g. mixed-kind if/else branches)
            # must NOT be force-cast: jq would type-error where the
            # cast silently coerces (or throws under ANSI) — route
            # those programs to the faithful binary
            if k != init_kind:
                raise JQUnsupported(
                    f"jq: {which} update kind {k!r} != accumulator "
                    f"kind {init_kind!r}"
                )
            return col.cast(acc_type)

        zero = init_col.cast(acc_type)
        if which == "reduce":
            return F.aggregate(arr, zero, step), init_kind

        # foreach: per-element output is the updated accumulator (2-arg
        # form) or EXTRACT evaluated against it (3-arg form)
        def extract(acc_updated: Column, x: Column) -> tuple[Column, str]:
            if ext_toks is None:
                return acc_updated, init_kind
            return body(ext_toks, acc_updated, x)

        _, out_kind = extract(zero, F.get(arr, 0))
        out_type = {
            "int": "long",
            "string": "string",
            "boolean": "boolean",
        }.get(out_kind)
        if out_type is None:
            raise JQUnsupported(
                f"jq: foreach extract kind {out_kind!r} outside the "
                "native subset"
            )
        # step(s["a"], x) appears twice (accumulator + extract input):
        # SQL lambdas have no let-binding, but both references are the
        # SAME expression tree, which Spark's subexpression
        # elimination evaluates once per row in codegen
        res = F.aggregate(
            arr,
            F.struct(
                zero.alias("a"),
                F.array().cast(f"array<{out_type}>").alias("o"),
            ),
            lambda s, x: F.struct(
                step(s["a"], x).alias("a"),
                F.array_append(
                    s["o"], extract(step(s["a"], x), x)[0].cast(out_type)
                ).alias("o"),
            ),
            lambda s: s["o"],
        )
        out_arr_kind = {
            "long": "complex_num",
            "string": "complex_str",
            "boolean": "complex",
        }[out_type]
        return res, out_arr_kind

    def _interpolate(self, raw: str) -> tuple[Column, str]:
        """String interpolation ``"a \\(expr) b"`` → ``F.concat`` of
        literal and stringified expression pieces. jq stringifies an
        interpolated null as "null" (Spark concat would null the whole
        string), and prints integral numbers without a decimal point —
        so only string/int/boolean/null kinds are native; fractional
        kinds route to the jq binary."""
        pieces: list[Column] = []
        for tag, text in _split_interpolation(raw):
            if tag == "lit":
                if text:
                    pieces.append(F.lit(json.loads('"' + text + '"')))
                continue
            col, k = _ExprParser(
                _tokenize(text), self.df, self.bindings
            ).parse_full()
            if k == "string":
                pieces.append(F.coalesce(col, F.lit("null")))
            elif k in ("int", "boolean"):
                pieces.append(
                    F.coalesce(col.cast("string"), F.lit("null"))
                )
            elif k == "null":
                pieces.append(F.lit("null"))
            elif k in ("complex_str", "complex_num"):
                # jq interpolates containers as their JSON text
                pieces.append(self._tojson(col, k)[0])
            else:
                raise JQUnsupported(
                    f"jq: interpolation of kind {k!r} outside the "
                    "native subset (float formatting diverges)"
                )
        if not pieces:
            return F.lit(""), "string"
        return F.concat(*pieces), "string"

    def parse_try(self) -> tuple[Column, str]:
        """``try E catch C`` / ``try E`` — native only where "E errors
        in jq" ⇔ "E is null natively" is PROVABLE:

        - E a plain dotted path whose schema walk never hits a
          non-struct mid-path: total in both models (jq field access on
          null/object never errors), so ``try E`` is the identity and
          catch is unreachable. A path that walks INTO a scalar/array
          errors in jq on every non-null row but reads null natively —
          that diverges, so it routes to the binary.
        - E a parenthesized pipe ending in fromdate/fromdateiso8601
          (with a catch): jq errors exactly on null/unparseable input,
          and to_timestamp yields null exactly then → coalesce(E, C).

        Anything else (errors we cannot prove map to null) routes to
        the faithful binary."""
        from pyspark.sql import types as T

        start = self.i
        icol, ikind = self.parse_postfix()
        span = self.toks[start : self.i]
        has_catch = self.peek() == "catch"
        ccol, ckind = None, None
        if has_catch:
            self.next()
            ccol, ckind = self.parse_postfix()
        if (
            len(span) == 1
            and span[0].startswith(".")
            and span[0] != "."
            and "[" not in span[0]
            and "?" not in span[0]
            and "." not in self.bindings
        ):
            fields: dict | None = {
                f.name: f.dataType
                for f in self.df.schema.fields
                if not f.name.startswith(_VAR_PREFIX)
            }
            for part in span[0][1:].split("."):
                if fields is None:
                    # mid-path scalar: jq errors here, native reads
                    # null — catch WOULD fire in jq but not natively
                    raise JQUnsupported(
                        f"jq: try {span[0]} type-errors in jq — "
                        "binary path"
                    )
                dt = fields.get(part)
                if dt is None:
                    fields = {}  # absent: null in jq too, no error
                else:
                    fields = (
                        {f.name: f.dataType for f in dt.fields}
                        if isinstance(dt, T.StructType)
                        else None
                    )
            return icol, ikind
        if span and span[0] == "(" and span[-1] == ")" and has_catch:
            segs = _split_top(span[1:-1], "|")
            last = segs[-1] if segs else []
            if len(last) == 1 and last[0] in (
                "fromdate",
                "fromdateiso8601",
            ):
                kind = ikind if ikind == ckind else "unknown"
                return F.coalesce(icol, ccol), kind
        raise JQUnsupported(
            "jq: try outside the provable error⇔null subset — binary "
            "path"
        )

    def parse_if(self) -> tuple[Column, str]:
        """``if A then B (elif C then D)* else E end`` → chained
        ``F.when``. jq truthiness (null and false are falsy) matches
        ``F.when`` exactly for boolean/null condition kinds — a NULL
        condition falls through to the next branch; non-boolean
        condition kinds (always truthy in jq) stay on the binary path
        rather than risk a wrong native compile."""
        branches: list[tuple[Column, Column, str]] = []

        def one_branch():
            cond, ckind = self.parse_alt()
            if ckind not in ("boolean", "null"):
                raise JQUnsupported(
                    f"jq: if-condition kind {ckind!r} (jq truthiness) "
                    "outside the native subset"
                )
            self.expect("then")
            val, vkind = self.parse_alt()
            branches.append((cond, val, vkind))

        one_branch()
        while self.peek() == "elif":
            self.next()
            one_branch()
        self.expect("else")
        out, okind = self.parse_alt()
        self.expect("end")
        kinds = {okind} | {vk for _, _, vk in branches}
        for cond, val, _vk in reversed(branches):
            out = F.when(cond, val).otherwise(out)
        return out, kinds.pop() if len(kinds) == 1 else "unknown"

    @staticmethod
    def _struct_path(col: Column, dtype, tok: str) -> tuple[Column, str]:
        """Resolve ``.a.b`` against a bound struct value (the current
        element inside map/sort_by bodies). Absent fields read as null,
        exactly jq; nested structs keep their parametric kind."""
        from pyspark.sql import types as T

        cur = col
        fields = {f.name: f.dataType for f in dtype.fields}
        m = re.fullmatch(r"(.*)\[(-?\d+)\]", tok)
        idx = None
        if m:
            tok, idx = m.group(1), int(m.group(2))
        for part in tok[1:].split("."):
            if fields is None or part not in fields:
                return F.lit(None), "null"
            cur = cur.getField(part)
            dt = fields[part]
            fields = (
                {f.name: f.dataType for f in dt.fields}
                if isinstance(dt, T.StructType)
                else None
            )
        if idx is not None:
            if not isinstance(dt, T.ArrayType):
                return F.lit(None), "null"
            cur = (
                F.get(cur, F.size(cur) + idx) if idx < 0 else F.get(cur, idx)
            )
            dt = dt.elementType
        return cur, _kind_of_dtype(dt)

    def _path_kind(self, tok: str) -> str:
        """Resolve a ``.path.to.field`` token's kind from df.schema."""
        from pyspark.sql import types as T

        dtype = None
        idx = re.fullmatch(r"(.*)\[(-?\d+)\]", tok)
        if idx:
            tok = idx.group(1)
        fields = {f.name: f.dataType for f in self.df.schema.fields}
        for part in tok[1:].split("."):
            if fields is None or part not in fields:
                return "unknown"
            dtype = fields[part]
            fields = (
                {f.name: f.dataType for f in dtype.fields}
                if isinstance(dtype, T.StructType)
                else None
            )
        if idx:
            if not isinstance(dtype, T.ArrayType):
                return "unknown"
            dtype = dtype.elementType
        return _kind_of_dtype(dtype)

    def parse_func(self, name: str) -> tuple[Column, str]:
        if name == "pow" and self.peek() == "(":
            # pow(x; y) ignores its piped input; in expression position
            # the argument filters evaluate against the CURRENT input,
            # so column arguments compile faithfully here
            self.next()
            a, ak = self.parse_alt()
            while self.peek() == "|":
                self.next()
                a, ak = self.parse_piped(a, ak)
            self.expect(";")
            b, bk = self.parse_alt()
            while self.peek() == "|":
                self.next()
                b, bk = self.parse_piped(b, bk)
            self.expect(")")
            if ak not in ("int", "number") or bk not in ("int", "number"):
                raise JQUnsupported(
                    f"jq: pow on unprovable kinds ({ak!r}, {bk!r})"
                )
            return (
                _jq_math_edges(
                    F.pow(a.cast("double"), b.cast("double"))
                ),
                "number",
            )
        if name == "has":
            # has("k") against a DataFrame: sources normalize ragged
            # JSON into schema columns with absent → NULL, and the
            # jq-binary fallback serializes rows with to_json (which
            # drops NULL fields), so through EITHER path a NULL value is
            # indistinguishable from an absent key. Compile to
            # isNotNull() so native and fallback agree row-by-row
            # (ADVICE r2: a schema-constant lit(True) diverged from the
            # fallback on nullable columns). Documented relaxation vs
            # raw jq: a literal JSON null value reads as absent.
            self.expect("(")
            key_tok = self.next()
            if not key_tok.startswith('"'):
                raise JQUnsupported("jq: has() needs a literal string key")
            self.expect(")")
            key = json.loads(key_tok)
            if key not in self.df.columns:
                return F.lit(False), "boolean"
            return F.col("`" + key + "`").isNotNull(), "boolean"
        if name == "getpath" and self.peek() == "(":
            # getpath(["a","b"]) on the record == .a.b with jq's exact
            # edges: missing anywhere → null (no error), but indexing a
            # SCALAR mid-path errors in jq (probed) — that case is not
            # null natively, so it routes to the binary. Paths are a
            # LITERAL-SHAPED array (static length); each element may be
            # a literal string (static walk) or a dynamic string
            # expression (CASE chain over the static path set —
            # VERDICT r9 item 3, the same machinery as `.[EXPR]`).
            from pyspark.sql import types as T

            self.next()
            self.expect("[")
            elems: list[tuple[Column | None, str, str | None]] = []
            while self.peek() != "]":
                t2 = self.peek()
                after = (
                    self.toks[self.i + 1]
                    if self.i + 1 < len(self.toks)
                    else None
                )
                if (
                    t2 is not None
                    and t2.startswith('"')
                    and "\\(" not in t2
                    and after in (",", "]")
                ):
                    self.next()
                    elems.append((None, "string", json.loads(t2)))
                else:
                    col2, kind2 = self.parse_or()
                    elems.append((col2, kind2, None))
                if self.peek() == ",":
                    self.next()
            self.expect("]")
            self.expect(")")
            if not elems or "." in self.bindings:
                raise JQUnsupported(
                    "jq: getpath([]) / element-scoped getpath — binary"
                )
            if any(lit is None for _, _, lit in elems):
                return self._dynamic_getpath(elems)
            parts: list[str] = [lit for _, _, lit in elems]
            fields: dict | None = {
                f.name: f.dataType
                for f in self.df.schema.fields
                if not f.name.startswith(_VAR_PREFIX)
            }
            col: Column | None = None
            dt = None
            for part in parts:
                if fields is None:
                    raise JQUnsupported(
                        "jq: getpath through a scalar errors in jq — "
                        "binary path"
                    )
                if part not in fields:
                    return F.lit(None), "null"  # missing → null, total
                dt = fields[part]
                col = (
                    F.col("`" + part + "`") if col is None
                    else col.getField(part)
                )
                fields = (
                    {f.name: f.dataType for f in dt.fields}
                    if isinstance(dt, T.StructType)
                    else None
                )
            return col, _kind_of_dtype(dt)
        if name in ("keys", "keys_unsorted"):
            # keys of the record: names of present fields — sorted for
            # keys, schema (insertion) order for keys_unsorted. Through
            # the canonical serialization (to_json drops NULL fields) a
            # NULL value IS an absent key, so filter by isNotNull — the
            # same relaxation as has().
            name_or_null = [
                F.when(F.col("`" + c + "`").isNotNull(), F.lit(c))
                for c in _record_columns(self.df)
            ]
            present = F.filter(
                F.array(*name_or_null), lambda x: x.isNotNull()
            )
            if name == "keys":
                present = F.sort_array(present)
            return present, "complex_str"
        args: list[Column] = []
        if self.peek() == "(":
            self.next()
            args.append(self.parse_or()[0])
            while self.peek() == ";":
                self.next()
                args.append(self.parse_or()[0])
            self.expect(")")
        if not args and "." in self.bindings:
            # bare zero-arg builtin takes its input from '.': inside
            # map/sort_by/reduce bodies that is the bound element —
            # `map({n: length})` == `map({n: (. | length)})`
            bcol, bkind = self.bindings["."]
            return self._piped_func(name, bcol, bkind, [], [], [])
        return _apply_func(name, args), _FUNC_KINDS.get(name, "unknown")


def _split_interpolation(raw: str) -> list[tuple[str, str]]:
    """Split a raw string token (quotes included) into ``("lit", text)``
    and ``("expr", source)`` segments on ``\\(...)`` boundaries with
    paren balancing. Nested string literals inside an interpolation
    can't be re-tokenized from a single string token, so they raise
    (→ jq-binary fallback)."""
    content = raw[1:-1]
    parts: list[tuple[str, str]] = []
    buf: list[str] = []
    i = 0
    while i < len(content):
        c = content[i]
        if c == "\\" and i + 1 < len(content) and content[i + 1] == "(":
            if buf:
                parts.append(("lit", "".join(buf)))
                buf = []
            depth = 1
            j = i + 2
            start = j
            while j < len(content) and depth:
                if content[j] == '"':
                    raise JQUnsupported(
                        "jq: nested string inside interpolation"
                    )
                if content[j] == "(":
                    depth += 1
                elif content[j] == ")":
                    depth -= 1
                j += 1
            if depth:
                raise JQUnsupported("jq: unbalanced interpolation")
            parts.append(("expr", content[start : j - 1]))
            i = j
        elif c == "\\":
            buf.append(content[i : i + 2])
            i += 2
        else:
            buf.append(c)
            i += 1
    if buf:
        parts.append(("lit", "".join(buf)))
    return parts


def _path_col(tok: str) -> Column:
    """Path token to Column. Callers must ensure the ROOT field exists
    (jq yields null for absent keys; an unresolved Column raises at
    analysis time instead — see _ExprParser.parse_atom)."""
    idx = None
    m = re.fullmatch(r"(.*)\[(-?\d+)\]", tok)
    if m:
        tok, idx = m.group(1), int(m.group(2))
    parts = tok[1:].split(".")
    col = F.col("`" + parts[0] + "`")
    for p in parts[1:]:
        col = col.getField(p)
    if idx is not None:
        # jq indexing is total: out-of-range and null arrays yield null.
        # F.get is the 0-based NULL-on-invalid accessor (getItem/
        # element_at throw under ANSI mode, Spark 4's default); a
        # negative index counts from the end, exactly jq
        if idx < 0:
            col = F.get(col, F.size(col) + idx)
        else:
            col = F.get(col, idx)
    return col


_FUNC_KINDS = {
    "length": "int",
    "tostring": "string",
    "ascii_downcase": "string",
    "ascii_upcase": "string",
    "floor": "int",
    "ceil": "int",
    "fabs": "number",
}


def _apply_func(name: str, args: list[Column]) -> Column:
    if not args:
        # bare builtin in expression position takes its input from the
        # pipe — only the piped form is native; crash-free fallback
        raise JQUnsupported(f"jq: {name} needs pipe input")
    if name == "length":
        return F.length(args[0])
    if name == "tostring":
        return args[0].cast("string")
    if name == "ascii_downcase":
        return _ascii_case(args[0], False)
    if name == "ascii_upcase":
        return _ascii_case(args[0], True)
    if name == "floor":
        return F.floor(args[0])
    if name == "ceil":
        return F.ceil(args[0])
    if name == "fabs":
        return F.abs(args[0])
    if name == "ltrimstr":
        # ltrimstr(prefix) applied via pipe is handled in stage parsing
        raise JQUnsupported("ltrimstr only supported as pipe stage")
    if name == "startswith":
        # jq's startswith takes its subject from the pipe; the pipe form
        # isn't in the native subset, so route to the jq-binary fallback
        raise JQUnsupported("startswith only supported via jq binary")
    raise JQUnsupported(f"jq: function {name!r} not in native subset")


# ---------------------------------------------------------------------------
# Program (stage pipeline) parsing


@dataclass
class _ObjEntry:
    key: str
    expr_toks: list[str]


def _split_top(toks: list[str], sep: str) -> list[list[str]]:
    """Split token list on ``sep`` at depth 0."""
    out, cur, depth = [], [], 0
    for t in toks:
        if t in ("(", "{", "["):
            depth += 1
        elif t in (")", "}", "]"):
            depth -= 1
        if t == sep and depth == 0:
            out.append(cur)
            cur = []
        else:
            cur.append(t)
    out.append(cur)
    return out


def _parse_object(toks: list[str]) -> list[_ObjEntry]:
    """{ key: expr, ("literal key"): expr, shorthand }"""
    assert toks[0] == "{" and toks[-1] == "}"
    inner = toks[1:-1]
    entries: list[_ObjEntry] = []
    if not inner:
        return entries
    for part in _split_top(inner, ","):
        halves = _split_top(part, ":")
        if len(halves) == 1:
            # shorthand {a} or {.a}
            tok = halves[0][0]
            key = tok.lstrip(".")
            if "?" in key:
                raise JQUnsupported(f"jq: optional shorthand key {tok!r}")
            entries.append(_ObjEntry(key=key, expr_toks=["." + key]))
            continue
        if len(halves) != 2:
            raise JQUnsupported(f"jq: bad object entry {part}")
        ktoks, vtoks = halves
        if len(ktoks) == 1 and ktoks[0].startswith('"'):
            key = json.loads(ktoks[0])
        elif len(ktoks) == 1 and re.fullmatch(r"[A-Za-z_]\w*", ktoks[0]):
            key = ktoks[0]
        elif (
            len(ktoks) == 3
            and ktoks[0] == "("
            and ktoks[1].startswith('"')
            and ktoks[2] == ")"
        ):
            key = json.loads(ktoks[1])  # ("__METADATA__x") literal-key form
        else:
            raise JQUnsupported(f"jq: dynamic object key {ktoks}")
        entries.append(_ObjEntry(key=key, expr_toks=vtoks))
    return entries


def _wrap_body(body: list[str]) -> list[str]:
    """Parenthesize an inlined def body — except when it is already a
    single self-delimited construct (``{...}`` / ``[...]`` /
    ``(...)``), where extra parens add nothing and the term parser
    does not accept ``( {...} )`` as a pipe stage."""
    if body and body[0] in ("{", "[", "(") and len(body) >= 2:
        close = {"{": "}", "[": "]", "(": ")"}[body[0]]
        depth = 0
        for i, t in enumerate(body):
            if t in ("(", "[", "{"):
                depth += 1
            elif t in (")", "]", "}"):
                depth -= 1
                if depth == 0:
                    if i == len(body) - 1 and t == close:
                        return list(body)
                    break
    return ["("] + list(body) + [")"]


def _is_object_key(toks: list[str], i: int) -> bool:
    """``{name: …}`` / ``{…, name: …}`` — the name token is a LITERAL
    object key, never a filter reference (probed: ``def f(a): {a: a};
    f(2)`` → ``{"a": 2}``, key stays literal)."""
    return (
        i + 1 < len(toks)
        and toks[i + 1] == ":"
        and i > 0
        and toks[i - 1] in ("{", ",")
    )


def _substitute_param_calls(
    rest: list[str], name: str, params: list[str], body: list[str]
) -> list[str]:
    """Expand every ``name(arg1; …; argN)`` call in ``rest`` with
    ``( body )``, each param occurrence replaced by ``( arg )`` —
    jq's call-by-name semantics exactly (probed: ``def twice(f):
    f + f;`` doubles, ``def g(f): .a | f;`` rebinds the input at the
    occurrence site, nested ``f(f(.x))`` composes). Arity mismatches
    and bare references (``f/0 is not defined``) are jq ERRORS and
    route to the binary, which reproduces them faithfully."""
    for _ in range(32):  # args may nest calls; body itself has none
        if name not in rest:
            return rest
        out: list[str] = []
        i = 0
        while i < len(rest):
            t = rest[i]
            if t != name or _is_object_key(rest, i):
                out.append(t)
                i += 1
                continue
            if i + 1 >= len(rest) or rest[i + 1] != "(":
                raise JQUnsupported(
                    f"jq: {name}/0 is not defined ({name} takes "
                    f"{len(params)} params) — binary reproduces the "
                    "error"
                )
            depth = 1
            j = i + 2
            args: list[list[str]] = [[]]
            while j < len(rest) and depth > 0:
                tk = rest[j]
                if tk in ("(", "[", "{"):
                    depth += 1
                elif tk in (")", "]", "}"):
                    depth -= 1
                    if depth == 0:
                        break
                if tk == ";" and depth == 1:
                    args.append([])
                else:
                    args[-1].append(tk)
                j += 1
            if depth != 0:
                raise JQUnsupported(
                    f"jq: unbalanced parens in {name}(...) call"
                )
            if len(args) != len(params) or any(
                not a for a in args
            ):
                raise JQUnsupported(
                    f"jq: {name}/{len(args)} is not defined (def has "
                    f"{len(params)} params) — binary path"
                )
            pmap = dict(zip(params, args))
            expanded: list[str] = []
            for bi, bt in enumerate(body):
                if bt in pmap and not _is_object_key(body, bi):
                    expanded.extend(_wrap_body(pmap[bt]))
                else:
                    expanded.append(bt)
            out.extend(_wrap_body(expanded))
            i = j + 1
        rest = out
    raise JQUnsupported(f"jq: {name} call expansion did not converge")


def _inline_defs(toks: list[str]) -> list[str]:
    """Inline leading ``def name: body;`` and ``def name(p; q): body;``
    definitions.

    jq defs are lexically-scoped filters and filter PARAMETERS are
    call-by-name, so substituting the name token with ``( body )``
    (and each param occurrence with its parenthesized argument tokens)
    is EXACT — probed against jq 1.6 for zero-arg defs, defs
    referencing earlier defs, multi-param defs, input rebinding inside
    the body, and nested calls. ``$value`` parameters (evaluated ONCE
    against the def's input, not per occurrence) and recursive defs
    stay on the binary. Object-construction keys that collide with a
    def or param name (``{double: 1}``) are NOT substituted."""
    while toks and toks[0] == "def":
        if len(toks) < 5 or not re.fullmatch(r"[A-Za-z_]\w*", toks[1]):
            raise JQUnsupported("jq: malformed def — binary path")
        name = toks[1]
        params: list[str] = []
        value_params: list[str] = []  # "$x" params, in declared order
        pos = 2
        if toks[2] == "(":
            pos = 3
            while pos < len(toks) and toks[pos] != ")":
                p = toks[pos]
                if p.startswith("$"):
                    # $value param: jq's documented sugar —
                    # ``def f($x): E`` ≡ ``def f(x): x as $x | E`` —
                    # so compile by desugaring to a synthetic
                    # call-by-name param bound ONCE via an `as`
                    # binding (probed vs jq 1.6: bind-once not
                    # per-occurrence, input rebinding in the body does
                    # not re-evaluate $x, left-to-right multi-param
                    # order, object keys named like the param stay
                    # literal)
                    if not re.fullmatch(r"\$[A-Za-z_]\w*", p):
                        raise JQUnsupported("jq: malformed def params")
                    params.append("__vp_" + p[1:])
                    value_params.append(p)
                    pos += 1
                    if pos < len(toks) and toks[pos] == ";":
                        pos += 1
                    continue
                if not re.fullmatch(r"[A-Za-z_]\w*", p):
                    raise JQUnsupported("jq: malformed def params")
                params.append(p)
                pos += 1
                if pos < len(toks) and toks[pos] == ";":
                    pos += 1
            if pos >= len(toks) or toks[pos] != ")" or not params:
                raise JQUnsupported("jq: malformed def params")
            pos += 1
        if pos >= len(toks) or toks[pos] != ":":
            raise JQUnsupported("jq: malformed def — binary path")
        depth = 0
        end = None
        for i in range(pos + 1, len(toks)):
            t = toks[i]
            if t in ("(", "[", "{"):
                depth += 1
            elif t in (")", "]", "}"):
                depth -= 1
            elif t == ";" and depth == 0:
                end = i
                break
        if end is None:
            raise JQUnsupported("jq: unterminated def — binary path")
        body = toks[pos + 1:end]
        rest = toks[end + 1:]
        if name in body:
            raise JQUnsupported(
                f"jq: recursive def {name!r} — binary path"
            )
        if value_params:
            # desugar: prefix the body with one `as` binding per value
            # param, left-to-right (jq's own definition of $params)
            for vp in value_params:
                if "__vp_" + vp[1:] in body:
                    raise JQUnsupported(
                        "jq: def body uses a __vp_ identifier — "
                        "binary path"
                    )
            prefix: list[str] = []
            for vp in value_params:
                prefix += ["__vp_" + vp[1:], "as", vp, "|"]
            body = prefix + body
        if params:
            toks = _substitute_param_calls(rest, name, params, body)
            continue
        out: list[str] = []
        for i, t in enumerate(rest):
            if t == name and not _is_object_key(rest, i):
                out.extend(_wrap_body(body))
            else:
                out.append(t)
        toks = out
    return toks


def _parse_literal_path_list(toks: list[str]) -> list[list[str]]:
    """Parse a LITERAL ``[["a","b"],["c"]]`` token run into path lists
    (string keys only — numeric indices mean arrays, which stay on the
    binary). Raises JQUnsupported on anything non-literal."""
    pos = 0

    def expect(t):
        nonlocal pos
        if pos >= len(toks) or toks[pos] != t:
            raise JQUnsupported(
                "jq: delpaths/setpath need a literal path array"
            )
        pos += 1

    expect("[")
    out: list[list[str]] = []
    while pos < len(toks) and toks[pos] != "]":
        expect("[")
        path: list[str] = []
        while pos < len(toks) and toks[pos] != "]":
            t = toks[pos]
            if not t.startswith('"'):
                raise JQUnsupported(
                    "jq: only literal string path keys compile — binary"
                )
            path.append(json.loads(t))
            pos += 1
            if pos < len(toks) and toks[pos] == ",":
                pos += 1
        expect("]")
        out.append(path)
        if pos < len(toks) and toks[pos] == ",":
            pos += 1
    expect("]")
    if pos != len(toks):
        raise JQUnsupported("jq: trailing tokens after path array")
    return out


def _ident(key: str) -> bool:
    return bool(re.fullmatch(r"[A-Za-z_]\w*", key))


def _tostream_rows(
    df: DataFrame,
    keep: str = "all",
    collect_array: bool = False,
) -> DataFrame:
    """Native ``tostream`` as the FINAL pipe stage (VERDICT r10
    item 8): the streamed form of each record, one canonical-JSON
    event text per output row in jq's ``value`` ragged-output
    representation — exactly the shape the jq-binary path emits for
    the same program, so the two paths stay interchangeable.

    Probed 1.6 (see tests): events are, in document order,
    ``[path, leaf]`` for every present leaf — where a LEAF is a
    scalar OR an empty container (``{"a":{}}`` → ``[["a"],{}]``) —
    plus a CLOSING event ``[path_of_last_child]`` after each
    NON-EMPTY container's descendants (top level included:
    ``{"d":3}`` → ``[["d"],3]`` then ``[["d"]]``); a scalar or empty
    container at the top emits one ``[[], value]`` event and no
    close.

    The static schema makes the event set enumerable at compile time
    — the same finite-path argument as ``[paths]`` — with presence
    (the engine's canonical to_json serialization drops nulls, so
    null leaves are ABSENT, matching the bytes the binary path feeds
    jq) and each container's last-present-child decided by CASE
    chains at runtime. Pure Column work: build the candidate event
    texts, drop the absent ones, explode.

    ``keep`` = ``"leaves"`` / ``"closes"`` compiles the
    ``tostream | select(length == 2 / 1)`` idiom by splitting the
    candidate set at compile time (probed: leaf events — empty
    containers included — have length 2, closing events length 1).
    ``collect_array=True`` renders ``[tostream]``: one canonical JSON
    array of the events per record instead of exploded rows.

    Fail-closed gates (binary path): arrays/maps anywhere (numeric
    path elements, dynamic cardinality — same as ``[paths]``) and
    fractional/decimal leaves (Spark's to_json renders ``1.0E20``
    where jq reprints ``100000000000000000000`` — a textual
    divergence this native must not ship)."""
    import json as _json

    from pyspark.sql import types as T

    def _leaf_json(col: Column) -> Column:
        # to_json only takes containers: wrap, serialize, strip the
        # brackets — identical bytes to the binary path's to_json
        # record serialization for every allowed leaf type
        j = F.to_json(F.array(col))
        return j.substr(F.lit(2), F.length(j) - F.lit(2))

    def _path_text(path: list[str]) -> str:
        return _json.dumps(path, ensure_ascii=False,
                           separators=(",", ":"))

    def _close_text(
        path: list[str], pres: list[tuple[str, Column]]
    ) -> Column:
        # the EVENT is [path]: '[[' + elements + ',' + <last present
        # child name> + ']]'
        prefix = "[[" + "".join(
            _json.dumps(p, ensure_ascii=False) + "," for p in path
        )
        last = None
        for name, p in pres:  # reversed chain: later children win
            lit = F.lit(_json.dumps(name, ensure_ascii=False))
            last = F.when(p, lit) if last is None else (
                F.when(p, lit).otherwise(last)
            )
        return F.concat(F.lit(prefix), last, F.lit("]]"))

    def walk(
        path: list[str], col: Column, dt
    ) -> tuple[Column, list[tuple[Column, bool]]]:
        """Returns (present, ordered (candidate event, is_close))."""
        if isinstance(dt, (T.ArrayType, T.MapType, T.BinaryType)):
            raise JQUnsupported(
                "jq: tostream through arrays/maps emits numeric "
                "path elements — binary path"
            )
        if isinstance(dt, (T.FractionalType, T.DecimalType)):
            raise JQUnsupported(
                "jq: tostream over fractional leaves (to_json vs jq "
                "number re-printing diverge) — binary path"
            )
        if isinstance(dt, T.StructType):
            pres_self = col.isNotNull()
            child_events: list[tuple[Column, bool]] = []
            pres: list[tuple[str, Column]] = []
            for f in dt.fields:
                p, evs = walk(
                    path + [f.name], col.getField(f.name), f.dataType
                )
                pres.append((f.name, p))
                child_events.extend(evs)
            any_p = F.lit(False)
            for _, p in pres:
                any_p = any_p | p
            events = [
                (
                    F.when(
                        pres_self & ~any_p,
                        F.lit("[" + _path_text(path) + ",{}]"),
                    ),
                    False,  # empty-container LEAF event (length 2)
                )
            ]
            events += child_events
            if pres:
                events.append(
                    (
                        F.when(
                            pres_self & any_p, _close_text(path, pres)
                        ),
                        True,
                    )
                )
            return pres_self, events
        pres_self = col.isNotNull()
        ev = F.when(
            pres_self,
            F.concat(
                F.lit("[" + _path_text(path) + ","),
                _leaf_json(col),
                F.lit("]"),
            ),
        )
        return pres_self, [(ev, False)]

    fields = [
        f for f in df.schema.fields
        if not f.name.startswith(_VAR_PREFIX)
    ]
    child_events: list[tuple[Column, bool]] = []
    pres: list[tuple[str, Column]] = []
    for f in fields:
        p, evs = walk([f.name], F.col("`" + f.name + "`"), f.dataType)
        pres.append((f.name, p))
        child_events.extend(evs)
    any_p = F.lit(False)
    for _, p in pres:
        any_p = any_p | p
    events = [(F.when(~any_p, F.lit("[[],{}]")), False)]
    events += child_events
    if pres:
        events.append((F.when(any_p, _close_text([], pres)), True))
    if keep == "leaves":
        events = [e for e in events if not e[1]]
    elif keep == "closes":
        events = [e for e in events if e[1]]
    if not events:
        out = df.select(F.lit(None).cast("string").alias("value"))
        return out.filter(F.col("value").isNotNull())
    arr = F.filter(
        F.array(*[e for e, _ in events]), lambda x: x.isNotNull()
    )
    if collect_array:
        return df.select(
            F.concat(
                F.lit("["), F.array_join(arr, ","), F.lit("]")
            ).alias("value")
        )
    return df.select(F.explode(arr).alias("value"))


_TOKENS_CACHE: "OrderedDict[str, tuple[str, ...]]" = OrderedDict()
_TOKENS_CACHE_MAX = 512


def _program_tokens(program: str) -> list[str]:
    """Tokenize + def-inline once per distinct program text — both
    passes are pure functions of the source, and repeated
    translate_jq calls (per micro-batch, per sink write) re-pay them
    otherwise. LRU-evicts one entry at a time past the cap so a
    workload cycling >512 distinct programs keeps its hot set instead
    of thrashing to a zero hit rate on a wholesale clear. Returns a
    fresh list: downstream stages slice and mutate their own copies."""
    key = program.strip()
    toks = _TOKENS_CACHE.get(key)
    if toks is None:
        while len(_TOKENS_CACHE) >= _TOKENS_CACHE_MAX:
            _TOKENS_CACHE.popitem(last=False)
        toks = tuple(_inline_defs(_tokenize(key)))
        _TOKENS_CACHE[key] = toks
    else:
        _TOKENS_CACHE.move_to_end(key)
    return list(toks)


def translate_jq(df: DataFrame, program: str) -> DataFrame:
    """Compile a JQ-subset program to DataFrame operations.

    Raises :class:`JQUnsupported` for programs outside the subset.
    """
    toks = _program_tokens(program)
    stages = _split_top(toks, "|")
    # Leading '.[]' iterates the batch array — the DataFrame already is
    # the record stream, so it is the identity here.
    if stages and stages[0] == [".[]"]:
        stages = stages[1:]
    if stages and stages == [[]]:
        return df
    # Peephole: a bare-path stage followed by a capture(...) stage is
    # jq's `.field | capture(re)` log-parsing idiom. The bare scalar
    # intermediate has no record (object) representation of its own, so
    # the two stages fuse into one filter+projection.
    fused: list[list[str]] = []
    i = 0
    while i < len(stages):
        st = stages[i]
        if (
            len(st) == 1
            and st[0].startswith(".")
            and st[0] != "."
            and i + 1 < len(stages)
            and stages[i + 1][:2] == ["capture", "("]
        ):
            fused.append(st + ["|"] + stages[i + 1])
            i += 2
        elif (
            st == ["to_entries"]
            and i + 2 < len(stages)
            and stages[i + 1][:2] == ["map", "("]
            and stages[i + 1][-1] == ")"
            and stages[i + 2] == ["from_entries"]
        ):
            # `to_entries | map(F) | from_entries` IS with_entries(F)
            # (jq's own definition) — fuse so the dict-reshaping
            # pipeline compiles through the static-key path
            fused.append(
                ["with_entries", "("] + stages[i + 1][2:-1] + [")"]
            )
            i += 3
        else:
            fused.append(st)
            i += 1
    out = df
    for si, stage in enumerate(fused):
        if not stage:
            continue
        if stage == ["tostream"]:
            # tostream emits bare array values — native only as the
            # FINAL stage (optionally followed by the leaf/close
            # length filter), where the events ARE the program output
            # in the engine's ragged `value` representation (the same
            # shape the binary path returns)
            rest = [s for s in fused[si + 1:] if s]
            if not rest:
                return _tostream_rows(out)
            if len(rest) == 1 and rest[0][:4] == [
                "select", "(", "length", "=="
            ] and rest[0][4:] in (["1", ")"], ["2", ")"]):
                # probed 1.6: length==2 keeps the leaf events
                # (including empty-container leaves), length==1 the
                # closing events — compile-time candidate split
                return _tostream_rows(
                    out,
                    keep="leaves" if rest[0][4] == "2" else "closes",
                )
            raise JQUnsupported(
                "jq: tostream mid-pipe (bare-value stream "
                "consumers) — binary path"
            )
        if stage == ["[", "tostream", "]"] and not any(
            fused[si + 1:]
        ):
            # [tostream] as the whole final stage: ONE canonical JSON
            # array of the events per record
            ev = _tostream_rows(out, collect_array=True)
            return ev
        out = _apply_pipe_stage(out, stage)
    var_cols = [c for c in out.columns if c.startswith(_VAR_PREFIX)]
    if var_cols:
        out = out.drop(*var_cols)
    return out


def _apply_pipe_stage(df: DataFrame, stage: list[str]) -> DataFrame:
    """One pipe stage: binding / bare-$var / scoped binding group /
    comma stage (the shared dispatcher for the top-level pipeline and
    for recursively-applied group contents)."""
    if (
        len(stage) >= 3
        and stage[-2] == "as"
        and stage[-1].startswith("$")
        and _split_top(stage, "as")[0] == stage[:-2]
    ):
        # stage-level binding: `EXPR as $x` scopes over the rest of
        # the pipeline (jq's lowest-precedence operator)
        return _apply_binding_stage(df, stage)
    if len(stage) == 1 and stage[0].startswith("$"):
        return _restore_var_stage(df, stage[0])
    if _is_full_group(stage):
        inner = _split_top(stage[1:-1], "|")
        if len(inner) > 1 and any(
            len(s) >= 3 and s[-2] == "as" and s[-1].startswith("$")
            and _split_top(s, "as")[0] == s[:-2]
            for s in inner
        ):
            # a parenthesized pipeline that BINDS: compile its stages
            # recursively with variable scope saved/restored — jq
            # scopes a group's bindings to the group (probed: `$x`
            # after `def f($x): ...; f(...)` is an unbound-variable
            # error, and an inner binding shadows without clobbering
            # the outer value). This is the shape $value-param def
            # expansion produces: `( ( arg ) as $x | body )`.
            return _apply_group_scoped(df, inner)
    return _apply_comma_stage(df, stage)


def _is_full_group(stage: list[str]) -> bool:
    """True when the stage is exactly one balanced ``( ... )`` group."""
    if len(stage) < 2 or stage[0] != "(" or stage[-1] != ")":
        return False
    depth = 0
    for i, t in enumerate(stage):
        if t in ("(", "[", "{"):
            depth += 1
        elif t in (")", "]", "}"):
            depth -= 1
            if depth == 0:
                return i == len(stage) - 1
    return False


_SCOPE_SAVE = _VAR_PREFIX + "__save"
_scope_counter = [0]


def _apply_group_scoped(
    df: DataFrame, inner_stages: list[list[str]]
) -> DataFrame:
    """Apply a group's stages with binding scope: every pre-existing
    variable column is snapshotted first and restored after, and
    variables INTRODUCED inside the group are dropped — so an outer
    ``$x`` survives an inner shadowing bind, and a group-local ``$x``
    is unbound afterwards (referencing it later fails compilation and
    routes to the binary, which reproduces jq's unbound-variable
    error). Save columns carry the _VAR_PREFIX so every stage's
    keep-variables logic preserves them."""
    _scope_counter[0] += 1
    tag = f"{_SCOPE_SAVE}{_scope_counter[0]}__"
    prior = [
        c
        for c in df.columns
        if c.startswith(_VAR_PREFIX) and not c.startswith(_SCOPE_SAVE)
    ]
    for c in prior:
        df = df.withColumn(tag + c, F.col("`" + c + "`"))
    for st in inner_stages:
        if st:
            df = _apply_pipe_stage(df, st)
    cur = [
        c
        for c in df.columns
        if c.startswith(_VAR_PREFIX) and not c.startswith(_SCOPE_SAVE)
    ]
    if cur:
        df = df.drop(*cur)
    for c in prior:
        df = df.withColumn(c, F.col("`" + tag + c + "`")).drop(tag + c)
    return df


def _apply_binding_stage(df: DataFrame, toks: list[str]) -> DataFrame:
    """``EXPR as $x`` stage → hidden snapshot column ``__jq_var_x``.

    ``. as $x`` snapshots the whole record as a struct (the jq idiom
    for keeping the original around across reshapes); any other EXPR
    must be single-valued — stream-valued bindings (``.xs[] as $x``)
    fan the pipeline out per element and route to the binary (the
    iteration tokens already fail the expression grammar). Destructured
    bindings (``as [$a, $b]``) never reach here (pattern token is not
    a ``$var``) and fall through to JQUnsupported."""
    expr_toks, name = toks[:-2], toks[-1][1:]
    hid = _VAR_PREFIX + name
    if expr_toks == ["."]:
        rec = _record_columns(df)
        if not rec:
            raise JQUnsupported("jq: '. as $x' on an empty record")
        col = F.struct(*[F.col("`" + c + "`").alias(c) for c in rec])
    else:
        col, kind = _ExprParser(list(expr_toks), df).parse_full()
        if isinstance(kind, str) and kind.startswith("stream"):
            raise JQUnsupported(
                "jq: stream-valued binding fans out — binary path"
            )
    return df.withColumn(hid, col)


def _restore_var_stage(df: DataFrame, tok: str) -> DataFrame:
    """A bare ``$x`` stage replaces the record with the bound value —
    only object bindings have a record (row) representation."""
    from pyspark.sql import types as T

    hid = _VAR_PREFIX + tok[1:]
    if hid not in df.columns:
        raise JQUnsupported(f"jq: unbound variable {tok}")
    dtype = next(f.dataType for f in df.schema.fields if f.name == hid)
    if not isinstance(dtype, T.StructType):
        raise JQUnsupported(
            f"jq: bare {tok} of non-object kind emits scalar records — "
            "binary path"
        )
    keep_vars = [c for c in df.columns if c.startswith(_VAR_PREFIX)]
    return df.select(
        *[
            F.col("`" + hid + "`").getField(f.name).alias(f.name)
            for f in dtype.fields
        ],
        *[F.col("`" + v + "`") for v in keep_vars],
    )


def _apply_capture(df: DataFrame, path_tok: str, toks: list[str]) -> DataFrame:
    """``.field | capture("(?<name>...)")`` stage: emit one record of
    named-group captures per MATCHING input record; non-matching
    records produce jq's empty stream, i.e. the row is dropped — a
    filter + regexp_extract projection.

    Gated to patterns where Java and Oniguruma provably agree AND every
    named group must participate in any match (no ``|``, no quantifier
    after a group): a non-participating group is null in jq but ""
    from regexp_extract, so skippable-group patterns route to the
    binary. Participating empty matches ("b?" matching "") are "" on
    both engines (probed against jq 1.6)."""
    if not toks or not toks[0].startswith('"'):
        raise JQUnsupported("jq: capture needs a literal pattern")
    pat = json.loads(toks[0])
    rest = toks[1:]
    if rest == [";", '"i"']:
        prefix = "(?i)"
    elif not rest:
        prefix = ""
    else:
        raise JQUnsupported(f"jq: capture flags {rest} outside native subset")
    # allow (?<name>...) groups, then apply the usual regex-subset gate
    stripped = re.sub(r"\(\?<[A-Za-z_]\w*>", "(", pat)
    if "(?" in stripped or "\\p" in stripped or re.search(r"\\\d", stripped):
        raise JQUnsupported("jq: capture pattern outside native subset")
    if "|" in pat or re.search(r"\)[?*{]", pat):
        raise JQUnsupported(
            "jq: capture pattern with skippable groups (null-vs-empty "
            "divergence) outside native subset"
        )
    try:
        groupindex = re.compile(pat.replace("(?<", "(?P<")).groupindex
    except re.error:
        raise JQUnsupported("jq: unparseable capture pattern")
    if not groupindex:
        raise JQUnsupported("jq: capture pattern without named groups")
    probe = _ExprParser([], df)
    pkind = probe._path_kind(path_tok)
    if pkind != "string":
        raise JQUnsupported(
            f"jq: capture subject {path_tok!r} of kind {pkind!r}"
        )
    subject = _path_col(path_tok)
    # extraction is by group NUMBER (opening-paren order, identical in
    # Python and Java), so strip the names from the Java pattern —
    # Java's group-name syntax forbids underscores that Oniguruma
    # (and therefore jq) allows
    jpat = prefix + re.sub(r"\(\?<[A-Za-z_]\w*>", "(", pat)
    return df.filter(subject.rlike(jpat)).select(
        *[
            F.regexp_extract(subject, jpat, idx).alias(name)
            for name, idx in groupindex.items()
        ],
        *[
            F.col("`" + c + "`")
            for c in df.columns
            if c.startswith(_VAR_PREFIX)
        ],
    )


def _apply_comma_stage(df: DataFrame, toks: list[str]) -> DataFrame:
    """One pipeline stage, honoring jq's comma operator: ``|`` binds
    loosest, so ``a, b | c`` is ``(a, b) | c`` and each stage may be a
    top-level comma list. ``E1, E2`` emits BOTH outputs per input
    record — relationally a union of the branch projections over the
    same input. Columns absent from one branch come back null, which
    the canonical serialization (to_json drops nulls) renders exactly
    as jq's absent keys; per-record interleaving order is relaxed to
    DataFrame order like every other stage. A column typed differently
    across branches would make the union insert casts jq doesn't have
    (5 vs "5"), so that routes to the binary."""
    parts = _split_top(toks, ",")
    if len(parts) == 1:
        return _apply_stage(df, toks)
    outs = []
    for p in parts:
        if not p:
            raise JQUnsupported(f"jq: empty comma branch in {toks}")
        outs.append(_apply_stage(df, p))
    merged_types: dict[str, object] = {}
    for o in outs:
        for f in o.schema.fields:
            if f.name in merged_types and merged_types[f.name] != f.dataType:
                raise JQUnsupported(
                    f"jq: comma branches type column {f.name!r} "
                    "differently — union casts would diverge from jq"
                )
            merged_types[f.name] = f.dataType
    merged = outs[0]
    for o in outs[1:]:
        merged = merged.unionByName(o, allowMissingColumns=True)
    return merged


_ASSIGN_OPS = ("=", "|=", "+=", "-=", "*=", "/=", "%=", "//=")


def _set_nested(df: DataFrame, parts: list[str], value: Column) -> Column:
    """Struct rebuild for a nested assignment target ``.a.b...`` —
    returns the replacement for the ROOT column. jq semantics (probed):
    setting through an existing struct replaces in place
    (``withField``); through null/absent, jq BUILDS the object
    (``{"a":null} | .a.b = 9`` → ``{"a":{"b":9}}``) — compiled as a
    same-typed struct whose other fields are null (absent through the
    canonical serialization); through a SCALAR jq errors — that case
    routes to the binary (a null result would silently diverge)."""
    from pyspark.sql import types as T

    root = parts[0]
    fields = {f.name: f.dataType for f in df.schema.fields}

    def build(cur: Column | None, dt, rest: list[str]) -> Column:
        if not rest:
            return value
        head = rest[0]
        if dt is None:  # absent level: fresh single-field object chain
            return F.struct(build(None, None, rest[1:]).alias(head))
        if not isinstance(dt, T.StructType):
            raise JQUnsupported(
                "jq: assignment through a scalar errors in jq — binary"
            )
        inner_dt = next(
            (f.dataType for f in dt.fields if f.name == head), None
        )
        inner_cur = cur.getField(head) if inner_dt is not None else None
        new_inner = build(inner_cur, inner_dt, rest[1:])
        replaced = cur.withField(head, new_inner)
        # null parent: jq builds {head: ...}; F.when branches must
        # share a type, so the fresh object is the full struct with
        # every other field null (≡ absent once serialized)
        fresh_fields = [
            new_inner.alias(f.name)
            if f.name == head
            else F.lit(None).cast(f.dataType).alias(f.name)
            for f in dt.fields
        ]
        if head not in [f.name for f in dt.fields]:
            fresh_fields.append(new_inner.alias(head))
        return F.when(cur.isNotNull(), replaced).otherwise(
            F.struct(*fresh_fields)
        )

    if root in fields:
        return build(F.col("`" + root + "`"), fields[root], parts[1:])
    return build(None, None, parts[1:])


def _apply_assignment(df: DataFrame, toks: list[str]) -> DataFrame:
    """``.field OP expr`` / ``.a.b OP expr`` stage → column replacement
    (jq assignment, the pervasive enrich-one-key idiom). Nested targets
    rebuild the root struct via ``withField`` (:func:`_set_nested`);
    indexed/optional targets route to the binary.

    Semantics per jq: ``.a = E`` evaluates E against the WHOLE record;
    ``.a |= F`` pipes the OLD value through F (``.a = (.a | F)``);
    the arithmetic forms desugar to ``.a = .a OP (E)``. A replaced
    key keeps its position, a new key appends — matching the merge
    rules in the term path below."""
    target_tok, op, rhs = toks[0], toks[1], toks[2:]
    target = target_tok[1:]
    if "[" in target or "?" in target:
        raise JQUnsupported(f"jq: indexed assignment path {target_tok}")
    if not rhs:
        raise JQUnsupported("jq: assignment without a right-hand side")
    if "." in target:
        parts = target.split(".")
        if op == "=":
            value = _ExprParser(list(rhs), df).parse()
        elif op == "|=":
            # total read of the old value (absent root/field → null)
            binding = {".": _ExprParser([target_tok], df).parse_full()}
            value = _ExprParser(list(rhs), df, binding).parse()
        else:
            value = _ExprParser(
                [target_tok, op[:-1], "("] + list(rhs) + [")"], df
            ).parse()
        root_col = _set_nested(df, parts, value)
        root = parts[0]
        if root in df.columns:
            return df.select(
                *[
                    root_col.alias(c) if c == root else F.col("`" + c + "`")
                    for c in df.columns
                ]
            )
        return df.select("*", root_col.alias(root))
    if op == "=":
        col = _ExprParser(list(rhs), df).parse()
    elif op == "|=":
        # the update filter is parsed with '.' bound to the OLD value;
        # expression-shaped filters ('(. + 1)', 'length'-via-pipe
        # inside parens) compile, bare-filter pipelines route to the
        # binary through JQUnsupported as usual
        probe = _ExprParser([], df)
        if target in df.columns:
            binding = {
                ".": (_path_col(target_tok), probe._path_kind(target_tok))
            }
        else:
            binding = {".": (F.lit(None), "null")}
        col = _ExprParser(list(rhs), df, binding).parse()
    else:
        # arithmetic/alternative update: .a OP= E  ==  .a = .a op (E)
        col = _ExprParser(
            [target_tok, op[:-1], "("] + list(rhs) + [")"], df
        ).parse()
    if target in df.columns:
        return df.select(
            *[
                col.alias(c) if c == target else F.col("`" + c + "`")
                for c in df.columns
            ]
        )
    return df.select("*", col.alias(target))


def _apply_with_entries(df: DataFrame, body: list[str]) -> DataFrame:
    """``with_entries(BODY)`` (= ``to_entries | map(BODY) |
    from_entries``, jq's dict-reshaping family, ext/jq builtin.jq) —
    compiled natively by exploiting that a record's keys are the STATIC
    DataFrame columns:

    - ``.key`` rewrites and key-only ``select`` predicates evaluate at
      COMPILE TIME by running the real jq binary on each literal column
      name (:func:`_jq_eval_static` — per column on the driver, never
      per row), so arbitrary jq key logic keeps bit-faithful semantics
      while the executed plan stays pure Catalyst;
    - ``.value`` rewrites compile per column through the expression
      grammar (each column with its own dtype/kind), with ``.`` bound
      to the old value (``|=``) or to the ``{key, value}`` entry
      (``=`` and the arithmetic updates), exactly jq's scoping;
    - the final from_entries merge is jq's: first occurrence fixes the
      key position, the LAST entry's value wins;
    - ``select`` over ``.value`` would make the OBJECT SHAPE depend on
      the row — no relational representation, binary path.
    """
    from pyspark.sql import types as T

    entries: list[list] = []  # mutable [key, column, dtype] triples
    for f in df.schema.fields:
        if not f.name.startswith(_VAR_PREFIX):
            entries.append([f.name, F.col("`" + f.name + "`"), f.dataType])
    for st in _split_top(body, "|"):
        if not st:
            raise JQUnsupported("jq: empty with_entries stage")
        if st[0] == "select" and len(st) >= 3 and st[1] == "(" and st[-1] == ")":
            pred = st[2:-1]
            if any(".value" in t for t in pred):
                raise JQUnsupported(
                    "jq: with_entries select over .value makes the "
                    "object shape row-dependent — binary path"
                )
            src = " ".join(pred)
            entries = [
                e
                for e in entries
                if _jq_eval_static(f"select({src}) | 1", {"key": e[0]})
            ]
        elif st[0] == ".key" and len(st) >= 3 and st[1] in _ASSIGN_OPS:
            rhs = st[2:]
            if any(".value" in t for t in rhs):
                raise JQUnsupported(
                    "jq: with_entries .key from .value is row-dependent "
                    "— binary path"
                )
            rhs_src = " ".join(rhs)
            for e in entries:
                if st[1] == "|=":
                    out = _jq_eval_static(rhs_src, e[0])
                else:
                    out = _jq_eval_static(
                        f".key {st[1]} ({rhs_src}) | .key", {"key": e[0]}
                    )
                if len(out) != 1 or not isinstance(out[0], str):
                    raise JQUnsupported(
                        f"jq: with_entries key of {e[0]!r} must map to "
                        "exactly one string"
                    )
                e[0] = out[0]
        elif st[0] == ".value" and len(st) >= 3 and st[1] in _ASSIGN_OPS:
            rhs = st[2:]
            for e in entries:
                key, col, dtype = e
                ek = T.StructType(
                    [
                        T.StructField("key", T.StringType()),
                        T.StructField("value", dtype),
                    ]
                )
                entry_col = F.struct(
                    F.lit(key).alias("key"), col.alias("value")
                )
                if st[1] == "|=":
                    # old value pipes through the update filter
                    bind = {".": (col, _kind_of_dtype(dtype))}
                    toks2 = list(rhs)
                elif st[1] == "=":
                    # plain assignment evaluates against the ENTRY
                    bind = {".": (entry_col, ("obj", ek))}
                    toks2 = list(rhs)
                else:  # .value OP= E  ==  .value = .value op (E)
                    bind = {".": (entry_col, ("obj", ek))}
                    toks2 = [".value", st[1][0], "("] + list(rhs) + [")"]
                newcol = _ExprParser(toks2, df, bind).parse()
                # null ≡ absent through the canonical serialization: a
                # null (absent) key has NO entry in jq's to_entries, so
                # the body never runs for it — the value must stay
                # null, not become e.g. the "null" string tostring
                # would produce
                e[1] = F.when(col.isNotNull(), newcol)
                # schema-only analysis (no job) keeps the dtype precise
                # for later body stages
                e[2] = df.select(e[1].alias("__t")).schema[0].dataType
        else:
            raise JQUnsupported(
                f"jq: with_entries stage {st} outside the native subset"
            )
    order: list[str] = []
    vals: dict[str, Column] = {}
    dts: dict[str, object] = {}
    for key, col, dt in entries:
        if key not in vals:
            order.append(key)
            vals[key], dts[key] = col, dt
        else:
            # from_entries: the LAST entry wins — but an absent (null)
            # key has no entry in jq, so per row the winner is the
            # last PRESENT source: reverse-order coalesce
            if dts[key] != dt:
                raise JQUnsupported(
                    f"jq: with_entries merges key {key!r} from columns "
                    "of different types — binary path"
                )
            vals[key] = F.coalesce(col, vals[key])
    if not order:
        raise JQUnsupported("jq: with_entries removed every key")
    return df.select(
        *[vals[k].alias(k) for k in order],
        *[
            F.col("`" + c + "`")
            for c in df.columns
            if c.startswith(_VAR_PREFIX)
        ],
    )


def _resolve_path_dtype(df: DataFrame, ptok: str):
    """Walk a ``.a.b.c`` path through the schema and return its
    DataType; raises :class:`JQUnsupported` when unresolvable."""
    from pyspark.sql import types as T

    root = ptok[1:].split(".")[0]
    if root not in df.columns:
        raise JQUnsupported(
            f"jq: iterating absent column {root!r} (jq errors)"
        )
    dtype = None
    fields = {f.name: f.dataType for f in df.schema.fields}
    for part in ptok[1:].split("."):
        if fields is None or part not in fields:
            raise JQUnsupported(f"jq: fan-out path {ptok} unresolvable")
        dtype = fields[part]
        fields = (
            {f.name: f.dataType for f in dtype.fields}
            if isinstance(dtype, T.StructType)
            else None
        )
    return dtype


def _apply_fanout(
    df: DataFrame, ptok: str, limit_n: int | Column | None
) -> DataFrame:
    """``.path[]`` fan-out: emit each array ELEMENT as its own record
    (jq generator iteration → relational explode). ``limit_n``
    truncates the generator first (``limit(n; .path[])`` /
    ``first(.path[])``) via an array slice, so the explode never
    materializes the skipped tail. Only array<struct> elements keep
    the record-as-object model (scalar elements would emit bare
    values — binary path); jq ERRORS on iterating null, and explode's
    drop-null/empty rows is the total relaxation consistent with the
    rest of the subset."""
    from pyspark.sql import types as T

    dtype = _resolve_path_dtype(df, ptok)
    if not (
        isinstance(dtype, T.ArrayType)
        and isinstance(dtype.elementType, T.StructType)
    ):
        raise JQUnsupported(
            f"jq: fan-out over non-object array {ptok} (bare scalar "
            "records) outside the native subset"
        )
    src = _path_col(ptok)
    if isinstance(limit_n, Column):
        src = (
            F.when(limit_n >= 1, F.slice(src, F.lit(1), limit_n))
            .when(limit_n == 0, F.slice(src, 1, 1))
            .otherwise(src)
        )
    elif limit_n is not None:
        src = F.slice(src, 1, limit_n)
    vnames = [c for c in df.columns if c.startswith(_VAR_PREFIX)]
    return df.select(
        F.explode(src).alias("__e"),
        *[F.col("`" + v + "`") for v in vnames],
    ).select("__e.*", *[F.col("`" + v + "`") for v in vnames])


def _apply_stage(df: DataFrame, toks: list[str]) -> DataFrame:
    # select(expr) — jq truthiness: null and false are falsy, any
    # other value (string/number/object/array) is truthy, so
    # select(.name) keeps non-null names. A bare non-boolean Column in
    # filter() would raise AnalysisException (not JQUnsupported), so
    # the kind goes through _truthy to compile or fail closed.
    if toks[0] == "select" and toks[1] == "(" and toks[-1] == ")":
        parser = _ExprParser(toks[2:-1], df)
        cond, ckind = parser.parse_full()
        return df.filter(parser._truthy(cond, ckind))
    if toks == ["."]:
        return df
    if toks == ["fromstream", "(", "tostream", ")"]:
        # the canonical stream round-trip IS the identity (probed 1.6:
        # objects, empties, null values all reassemble exactly); note
        # `{"a":null}` round-trips to itself in raw jq while the
        # record model reads the null as absent — the same canonical-
        # serialization relaxation both paths already share
        return df
    # fused `.field | capture(re)` (built by translate_jq's peephole)
    if (
        len(toks) >= 6
        and toks[0].startswith(".")
        and toks[0] != "."
        and toks[1] == "|"
        and toks[2] == "capture"
        and toks[3] == "("
        and toks[-1] == ")"
    ):
        return _apply_capture(df, toks[0], toks[4:-1])
    # setpath(["a","b"]; EXPR) IS `.a.b = EXPR` for literal paths (jq
    # defines assignment via setpath) — token rewrite into the native
    # nested-assignment grammar
    if (
        len(toks) >= 6
        and toks[0] == "setpath"
        and toks[1] == "("
        and toks[-1] == ")"
    ):
        inner = toks[2:-1]
        semis = _split_top(inner, ";")
        if len(semis) != 2:
            raise JQUnsupported("jq: setpath needs (paths; value)")
        ptoks, vtoks = semis
        # ptoks is ONE literal path array ([ "a" , "b" ]); wrapping
        # it re-uses the path-LIST parser with a single entry
        path = _parse_literal_path_list(["["] + ptoks + ["]"])
        if len(path) != 1 or not path[0]:
            raise JQUnsupported("jq: setpath path outside the subset")
        parts = path[0]
        if not all(_ident(k) for k in parts):
            raise JQUnsupported(
                "jq: setpath keys must be identifiers — binary"
            )
        return _apply_assignment(
            df, ["." + ".".join(parts), "="] + list(vtoks)
        )
    # assignment: .field OP expr (never valid inside the additive-term
    # grammar below, so detect it first)
    if (
        len(toks) >= 3
        and toks[0].startswith(".")
        and toks[0] != "."
        and toks[1] in _ASSIGN_OPS
    ):
        return _apply_assignment(df, toks)
    # fan-out: `.items[]` as a whole stage emits each ELEMENT as its
    # own record (jq array iteration). Relationally: explode. Only
    # array<struct> elements keep the record-as-object model (scalar
    # elements would emit bare values — binary path); jq ERRORS on
    # iterating null, and explode's drop-null/empty rows is the total
    # relaxation consistent with the rest of the subset.
    if len(toks) == 3 and toks[0].startswith(".") and toks[1:] == ["[", "]"]:
        return _apply_fanout(df, toks[0], None)
    # limit(n; .path[]) / first(.path[]) — generator TRUNCATION over
    # the same explode: slice the array to its first n elements, then
    # fan out (VERDICT r8 item 4). Probed jq 1.6 edges: limit(0; f)
    # emits ONE value there (the well-known 1.6 bug, fixed in 1.7) and
    # limit(-1; f) emits everything — both non-obvious, so only a
    # POSITIVE literal count compiles; zero/negative/computed counts
    # stay on the binary, which reproduces 1.6 bit-faithfully.
    # first(f) is jq's `limit(1; f)` (builtin.jq); on an empty array
    # both emit nothing — explode's drop-empty matches exactly.
    if (
        toks[0] in ("limit", "first")
        and len(toks) >= 3
        and toks[1] == "("
        and toks[-1] == ")"
        and _is_full_group(toks[1:])
    ):
        inner = toks[2:-1]
        if toks[0] == "first":
            n_lit, gen = 1, inner
        else:
            semis = _split_top(inner, ";")
            if len(semis) != 2:
                raise JQUnsupported("jq: limit needs (n; generator)")
            ntoks, gen = semis
            if (
                len(ntoks) == 1
                and re.fullmatch(r"\$\w+", ntoks[0])
                and _VAR_PREFIX + ntoks[0][1:] in df.columns
            ):
                # DYNAMIC count from a bound variable: the probed 1.6
                # row-wise quirks (0 → one element, negative/null →
                # whole stream) compile into the slice CASE; explode's
                # drop-empty matches the generator emitting nothing
                nc = F.col("`" + _VAR_PREFIX + ntoks[0][1:] + "`")
                nkind = _kind_of_dtype(
                    df.schema[_VAR_PREFIX + ntoks[0][1:]].dataType
                )
                if nkind != "int":
                    raise JQUnsupported(
                        "jq: dynamic limit count must be provably "
                        f"integer-kinded, got {nkind!r} — binary path"
                    )
                n_lit = nc
            elif (
                len(ntoks) != 1
                or not re.fullmatch(r"\d+", ntoks[0])
                or int(ntoks[0]) <= 0
            ):
                raise JQUnsupported(
                    "jq: limit count must be a positive int literal "
                    "(jq 1.6's limit(n<=0) behavior is its own bug "
                    "class — binary)"
                )
            else:
                n_lit = int(ntoks[0])
        if not (
            len(gen) == 3
            and gen[0].startswith(".")
            and gen[0] != "."
            and gen[1:] == ["[", "]"]
        ):
            raise JQUnsupported(
                f"jq: {toks[0]} over a non-path-iteration generator "
                "outside the native subset"
            )
        return _apply_fanout(df, gen[0], n_lit)
    # with_entries(BODY) — and the fused `to_entries | map(BODY) |
    # from_entries` pipeline translate_jq rewrites into it
    if (
        toks[0] == "with_entries"
        and len(toks) >= 3
        and toks[1] == "("
        and toks[-1] == ")"
    ):
        return _apply_with_entries(df, toks[2:-1])
    # map_values(F) == with_entries(.value |= (F)) (jq builtin.jq);
    # parenthesized because |= binds tighter than | inside F
    if (
        toks[0] == "map_values"
        and len(toks) >= 3
        and toks[1] == "("
        and toks[-1] == ")"
    ):
        return _apply_with_entries(
            df, [".value", "|=", "("] + toks[2:-1] + [")"]
        )
    # additive combination: term (+ term)* where term ∈ {del(...), {...}, .}
    terms = _split_top(toks, "+")
    dropped: list[str] = []
    added: list[tuple[str, Column]] = []
    exploded_keys: set[str] = set()
    base_identity = False
    saw_del_term = False
    for term in terms:
        if not term:
            raise JQUnsupported(f"jq: empty term in {toks}")
        if (
            term[0] == "delpaths"
            and len(term) >= 3
            and term[1] == "("
            and term[-1] == ")"
        ):
            # delpaths([["a","b"],["c"]]) IS del(.a.b, .c) for literal
            # paths (jq defines del via delpaths) — rewrite the term
            # and fall into the del branch below. delpaths([]) is the
            # identity (probed).
            plist = _parse_literal_path_list(term[2:-1])
            if not plist:
                term = ["."]
            else:
                ptoks: list[str] = []
                for parts in plist:
                    if not parts or not all(_ident(k) for k in parts):
                        raise JQUnsupported(
                            "jq: delpaths keys must be identifiers — "
                            "binary"
                        )
                    if ptoks:
                        ptoks.append(",")
                    ptoks.append("." + ".".join(parts))
                term = ["del", "("] + ptoks + [")"]
        if term == ["."]:
            base_identity = True
        elif term[0] == "del" and term[1] == "(" and term[-1] == ")":
            base_identity = True
            if saw_del_term:
                # 'del(.a) + del(.b)' merges RIGHT-BIASED per key in
                # jq (probed 1.6: both keys survive!) — accumulating
                # drops across terms would silently diverge → binary
                raise JQUnsupported(
                    "jq: two del terms merge right-biased — binary"
                )
            saw_del_term = True
            # paths WITHIN one del(...) apply sequentially to the same
            # doc (probed: del(.a.b,.a.c) drops both), so nested paths
            # under one root combine into a single dropFields
            del_fields: dict[str, list[str]] = {}
            for ptoks in _split_top(term[2:-1], ","):
                if len(ptoks) != 1 or not ptoks[0].startswith("."):
                    raise JQUnsupported(f"jq: del path {ptoks}")
                p = ptoks[0][1:]
                if "[" in p or "?" in p:
                    raise JQUnsupported(f"jq: indexed del path {ptoks}")
                if "." in p:
                    # nested del: rebuild the root struct without the
                    # field (dropFields; null root stays null, which
                    # serializes exactly like jq's {"a":null} through
                    # the canonical null-dropping). Depth 2 only;
                    # del through a scalar errors in jq → binary.
                    from pyspark.sql import types as T

                    root, _, field = p.partition(".")
                    if "." in field:
                        raise JQUnsupported(
                            f"jq: del path {ptoks} deeper than 2 — binary"
                        )
                    dt = next(
                        (
                            f.dataType
                            for f in df.schema.fields
                            if f.name == root
                        ),
                        None,
                    )
                    if dt is None:
                        continue  # absent root: jq no-op
                    if not isinstance(dt, T.StructType):
                        raise JQUnsupported(
                            f"jq: del through scalar {root!r} errors in "
                            "jq — binary"
                        )
                    if field not in [f.name for f in dt.fields]:
                        continue  # absent field: no-op
                    fields = del_fields.setdefault(root, [])
                    if field not in fields:
                        fields.append(field)
                    if len(fields) >= len(dt.fields):
                        # dropping every field would leave a zero-
                        # field struct (unrepresentable): jq yields {}
                        raise JQUnsupported(
                            f"jq: del of {p!r} empties the object — "
                            "binary"
                        )
                    continue
                dropped.append(p)
            for root, fields in del_fields.items():
                if root in dropped:
                    # del(.a, .a.b): the whole-root drop subsumes the
                    # nested one (probed: delpaths([["a"],["a","b"]])
                    # leaves no a) — emitting dropFields would re-add
                    # the root through the right-biased merge
                    continue
                added.append(
                    (
                        root,
                        F.col("`" + root + "`").dropFields(*fields),
                    )
                )
        elif term[0] == "{" and term[-1] == "}":
            for e in _parse_object(term):
                if (
                    len(e.expr_toks) == 3
                    and e.expr_toks[0].startswith(".")
                    and e.expr_toks[0] != "."
                    and e.expr_toks[1:] == ["[", "]"]
                ):
                    # {id, w: .words[]} — jq iterates the array INSIDE
                    # object construction, emitting one record per
                    # element with the other keys repeated: explode.
                    # An empty array emits nothing (probed), which is
                    # exactly explode's row-drop; a null array errors
                    # in jq (total relaxation: dropped). Two stream
                    # entries would be a cartesian — one per stage.
                    from pyspark.sql import types as T

                    ptok = e.expr_toks[0]
                    dtype = _resolve_path_dtype(df, ptok)
                    if not isinstance(dtype, T.ArrayType):
                        raise JQUnsupported(
                            f"jq: iterating non-array path {ptok}"
                        )
                    if exploded_keys:
                        raise JQUnsupported(
                            "jq: two stream-valued object entries form "
                            "a cartesian — binary path"
                        )
                    exploded_keys.add(e.key)
                    added.append((e.key, F.explode(_path_col(ptok))))
                else:
                    added.append(
                        (e.key, _ExprParser(e.expr_toks, df).parse())
                    )
        else:
            raise JQUnsupported(f"jq: unsupported term {term}")
    var_cols = [
        F.col("`" + c + "`")
        for c in df.columns
        if c.startswith(_VAR_PREFIX)
    ]
    if len(terms) == 1 and added and not base_identity:
        # pure object construction: projection (hidden stage-binding
        # columns ride along; translate_jq strips them at the end)
        return df.select(*[c.alias(k) for k, c in added], *var_cols)
    # jq evaluates each term against the INPUT and merges right-biased:
    # 'del(.a) + {a: expr}' re-adds a (the del term's output simply has
    # no a to contribute), so drops must not remove re-added keys, and
    # add expressions bind to the original df. One select builds the
    # result: existing keys keep their position, new keys append.
    added_by_key = {k: c for k, c in added}
    drop_set = set(dropped)
    cols: list[Column] = []
    for name in _record_columns(df):
        if name in drop_set:
            continue  # deleted; a re-add appends at the end (new key)
        if name in added_by_key:
            cols.append(added_by_key[name].alias(name))
        else:
            cols.append(F.col("`" + name + "`"))
    kept = set(_record_columns(df)) - drop_set
    emitted = set()
    for k, _c in added:
        if k not in kept and k not in emitted:
            cols.append(added_by_key[k].alias(k))  # right-biased merge
            emitted.add(k)
    return df.select(*cols, *var_cols)


# ---------------------------------------------------------------------------
# Faithful jq-binary path

def jq_binary_transform(
    df: DataFrame,
    program: str,
    batch_size: int = 512,
    jq_path: str = "jq",
    output_schema: Any | None = None,
) -> DataFrame:
    """Run the real ``jq`` binary over NDJSON batches (Arrow-transferred).

    Semantics match the reference connector exactly: records are grouped
    into ``batch_size``-record batches, each batch is passed to one
    ``jq -c`` invocation as a JSON array, and outputs are re-emitted as
    records (reference: ext/jq/connector.go:101-127 — including the
    per-batch aggregation behavior of programs like ``[.[]|.x]|add``).

    Output records may be ragged; they come back as a ``value`` JSON-text
    column. Pass ``output_schema`` to project them into columns, or call
    :func:`infer_json` afterwards.
    """
    json_df = df.select(F.to_json(F.struct(*df.columns)).alias("value"))

    def run_batches(it: Iterator) -> Iterator:
        import pandas as pd

        buf: list[str] = []

        def flush():
            if not buf:
                return None
            payload = "[" + ",".join(buf) + "]"
            proc = subprocess.run(
                [jq_path, "-c", program],
                input=payload.encode(),
                stdout=subprocess.PIPE,
                stderr=subprocess.PIPE,
            )
            if proc.returncode != 0:
                raise RuntimeError(f"jq failed: {proc.stderr.decode()[:500]}")
            lines = [ln for ln in proc.stdout.decode().splitlines() if ln.strip()]
            buf.clear()
            return pd.DataFrame({"value": lines})

        for pdf in it:
            for v in pdf["value"]:
                buf.append(v)
                if len(buf) >= batch_size:
                    out = flush()
                    if out is not None and len(out):
                        yield out
        out = flush()
        if out is not None and len(out):
            yield out

    result = json_df.mapInPandas(run_batches, schema="value string")
    if output_schema is not None:
        return result.select(
            F.from_json(F.col("value"), output_schema).alias("r")
        ).select("r.*")
    return result


def infer_json(spark: SparkSession, value_df: DataFrame) -> DataFrame:
    """Re-infer a schema over a ``value: string`` JSON column (the
    dynamic/ragged-schema boundary — SURVEY.md §1.1 'JSON as the common
    data format')."""
    return spark.read.json(value_df.rdd.map(lambda r: r["value"]))


def jq_transform(
    df: DataFrame,
    program: str,
    batch_size: int = 512,
    output_schema: Any | None = None,
) -> DataFrame:
    """Native translation when possible, jq-binary escape hatch otherwise."""
    from pyspark.errors import AnalysisException

    try:
        return translate_jq(df, program)
    except JQUnsupported:
        pass
    except AnalysisException:
        # defense-in-depth: a translation that fails ANALYSIS (a gap in
        # the kind gates) must degrade to the always-correct binary
        # path, not crash a pipeline the reference would run fine.
        # Value-level miscompiles can't hide here — those never raise,
        # which is why the differential/fuzz suites exist.
        pass
    return jq_binary_transform(
        df, program, batch_size=batch_size, output_schema=output_schema
    )
