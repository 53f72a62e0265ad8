"""AST -> pyspark Column translation with schema-aware field resolution.

Field resolution ports the reference's dual dotted-path lookup: a field
named ``container.image.name`` matches *either* a literal dotted
top-level key *or* a nested object path, literal tried first
(reference: glassflow-api/internal/schema_v2/validate.go:64-87 and
mapper/mapper.go:133-146). Here resolution happens once at compile
time against the DataFrame schema instead of per-row.

Missing fields resolve to typed NULL literals (the reference errors the
row to the DLQ; in batch mode the validation operator handles that
split upstream, so by the time expressions run the schema is known).
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .functions import FUNCTIONS
from .parser import (
    ArrayLit,
    Binary,
    Call,
    Ident,
    Index,
    Lit,
    MapLit,
    Member,
    Node,
    Slice,
    Ternary,
    Unary,
    parse,
)


class ExprTranslationError(ValueError):
    pass


def _kind_of_dtype(dt: T.DataType) -> str:
    if isinstance(dt, T.StringType):
        return "str"
    if isinstance(dt, T.BooleanType):
        return "bool"
    if isinstance(dt, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)):
        return "int"
    if isinstance(dt, (T.FloatType, T.DoubleType, T.DecimalType)):
        return "float"
    if isinstance(dt, T.ArrayType):
        return "array"
    if isinstance(dt, T.MapType):
        return "map"
    if isinstance(dt, T.StructType):
        return "struct"
    return "any"


class ExprTranslator:
    """Compiles expr-lang source to a ``Column`` against a known schema."""

    def __init__(self, schema: Optional[T.StructType] = None):
        self.schema = schema
        self._lambda_var: Optional[Column] = None  # binds '#' inside lambdas

    # ---------------------------------------------------------- public

    def column(self, src: str) -> Column:
        col, _ = self._tr(parse(src))
        return col

    def predicate(self, src: str) -> Column:
        """Boolean filter compile; non-boolean results are rejected at
        compile time when inferable (reference rejects non-bool at eval:
        filter/json/filter.go:40-52)."""
        col, kind = self._tr(parse(src))
        if kind not in ("bool", "any"):
            raise ExprTranslationError(f"filter expression is not boolean: {src!r} ({kind})")
        return col

    # ---------------------------------------------------------- resolve

    def _resolve_field(self, name: str) -> tuple[Column, str]:
        schema = self.schema
        if schema is None:
            return F.col("`" + name + "`") if "." in name else F.col(name), "any"
        # 1. literal dotted top-level key wins (validate.go:64-87)
        if name in schema.fieldNames():
            dt = schema[name].dataType
            return F.col("`" + name + "`"), _kind_of_dtype(dt)
        # 2. nested path walk through structs/maps
        parts = name.split(".")
        if parts[0] in schema.fieldNames():
            col = F.col("`" + parts[0] + "`")
            dt: T.DataType = schema[parts[0]].dataType
            for p in parts[1:]:
                if isinstance(dt, T.StructType):
                    if p not in dt.fieldNames():
                        return F.lit(None), "any"
                    col = col.getField(p)
                    dt = dt[p].dataType
                elif isinstance(dt, T.MapType):
                    col = col.getItem(p)
                    dt = dt.valueType
                else:
                    return F.lit(None), "any"
            return col, _kind_of_dtype(dt)
        # 3. missing entirely -> typed null
        return F.lit(None), "any"

    # ---------------------------------------------------------- walk

    def _tr(self, node: Node) -> tuple[Column, str]:
        if isinstance(node, Lit):
            if node.value is None:
                return F.lit(None), "any"
            kind = {bool: "bool", int: "int", float: "float", str: "str"}[type(node.value)]
            return F.lit(node.value), kind

        if isinstance(node, Ident):
            if node.name == "#":
                if self._lambda_var is None:
                    raise ExprTranslationError("'#' used outside a lambda")
                return self._lambda_var, "any"
            return self._resolve_field(node.name)

        if isinstance(node, Member):
            obj, okind = self._tr(node.obj)
            if okind == "map":
                return obj.getItem(node.attr), "any"
            return obj.getField(node.attr), "any"

        if isinstance(node, Index):
            obj, okind = self._tr(node.obj)
            idx, _ = self._tr(node.index)
            return obj.getItem(idx) if not isinstance(node.index, Lit) else obj.getItem(
                node.index.value
            ), "any"

        if isinstance(node, Slice):
            # expr-lang a[s:e]: 0-based, end-exclusive; omitted bounds
            # default to the array ends (Go slice semantics)
            obj, _ = self._tr(node.obj)
            start = self._tr(node.start)[0] if node.start is not None else F.lit(0)
            stop = (
                self._tr(node.stop)[0] if node.stop is not None else F.size(obj)
            )
            length = F.greatest(stop.cast("int") - start.cast("int"), F.lit(0))
            return F.slice(obj, start.cast("int") + 1, length), "array"

        if isinstance(node, ArrayLit):
            cols = [self._tr(i)[0] for i in node.items]
            return F.array(*cols), "array"

        if isinstance(node, MapLit):
            pairs: list[Column] = []
            for k, v in node.items:
                pairs.append(F.lit(k))
                pairs.append(self._tr(v)[0])
            return F.create_map(*pairs), "map"

        if isinstance(node, Unary):
            col, kind = self._tr(node.operand)
            if node.op == "-":
                return -col, kind if kind in ("int", "float") else "float"
            if node.op == "not":
                return ~col.cast("boolean"), "bool"
            raise ExprTranslationError(f"unknown unary op {node.op}")

        if isinstance(node, Ternary):
            cond, _ = self._tr(node.cond)
            then, tkind = self._tr(node.then)
            other, okind = self._tr(node.other)
            return F.when(cond, then).otherwise(other), tkind if tkind == okind else "any"

        if isinstance(node, Call):
            return self._call(node)

        if isinstance(node, Binary):
            return self._binary(node)

        raise ExprTranslationError(f"unhandled node {node!r}")

    # ---------------------------------------------------------- calls

    #: expr-lang array builtins with a '#'-placeholder lambda body as the
    #: second argument (public expr-lang surface: all/any/filter/map/count)
    _LAMBDA_FNS = {"all", "any", "filter", "map", "count", "one", "none"}

    def _lambda_call(self, node: Call) -> tuple[Column, str]:
        if len(node.args) != 2:
            raise ExprTranslationError(f"{node.func} requires (array, lambda) arguments")
        arr, _ = self._tr(node.args[0])
        body_ast = node.args[1]

        def body(x: Column) -> Column:
            prev, self._lambda_var = self._lambda_var, x
            try:
                col, _ = self._tr(body_ast)
            finally:
                self._lambda_var = prev
            return col

        name = node.func
        if name == "all":
            return F.coalesce(F.forall(arr, lambda x: body(x).cast("boolean")), F.lit(False)), "bool"
        if name == "any":
            return F.coalesce(F.exists(arr, lambda x: body(x).cast("boolean")), F.lit(False)), "bool"
        if name == "none":
            return (
                ~F.coalesce(F.exists(arr, lambda x: body(x).cast("boolean")), F.lit(False)),
                "bool",
            )
        if name == "filter":
            return F.filter(arr, lambda x: body(x).cast("boolean")), "array"
        if name == "map":
            return F.transform(arr, body), "array"
        if name == "count":
            return (
                F.coalesce(
                    F.size(F.filter(arr, lambda x: body(x).cast("boolean"))).cast("bigint"),
                    F.lit(0).cast("bigint"),
                ),
                "int",
            )
        if name == "one":
            cnt = F.size(F.filter(arr, lambda x: body(x).cast("boolean")))
            return F.coalesce(cnt == 1, F.lit(False)), "bool"
        raise ExprTranslationError(f"unhandled lambda builtin {name!r}")

    def _call(self, node: Call) -> tuple[Column, str]:
        name = node.func
        if name in self._LAMBDA_FNS:
            return self._lambda_call(node)
        if name == "len":
            arg, kind = self._tr(node.args[0])
            if kind in ("array", "map"):
                return F.coalesce(F.size(arg).cast("bigint"), F.lit(0).cast("bigint")), "int"
            return (
                F.coalesce(F.length(arg.cast("string")).cast("bigint"), F.lit(0).cast("bigint")),
                "int",
            )
        if name == "waterfall" and len(node.args) == 1 and isinstance(node.args[0], ArrayLit):
            # reference accepts waterfall([a, b, ...]) (go:154-191)
            node = Call("waterfall", node.args[0].items)
        fn = FUNCTIONS.get(name)
        if fn is None:
            raise ExprTranslationError(f"unknown function {name!r}")
        args = [self._tr(a)[0] for a in node.args]
        if name == "join" and len(node.args) == 2 and isinstance(node.args[1], Lit):
            args[1] = str(node.args[1].value)  # array_join needs a plain separator
        out = fn(*args)
        kind = {
            "parseQuery": "map",
            "hasKeyPrefix": "bool",
            "hasAnyKey": "bool",
            "containsStr": "bool",
            "hasPrefix": "bool",
            "hasSuffix": "bool",
            "parseISO8601": "int",
            "toInt": "int",
            "int": "int",
            "toFloat": "float",
            "float": "float",
            "abs": "float",
            "split": "array",
            "keys": "array",
        }.get(name, "str")
        return out, kind

    # ---------------------------------------------------------- binary

    def _binary(self, node: Binary) -> tuple[Column, str]:
        op = node.op
        left, lk = self._tr(node.left)
        right, rk = self._tr(node.right)

        if op == "and":
            return left.cast("boolean") & right.cast("boolean"), "bool"
        if op == "or":
            return left.cast("boolean") | right.cast("boolean"), "bool"
        if op == "??":
            return F.coalesce(left, right), lk if lk == rk else "any"

        if op in ("==", "!=", "<", "<=", ">", ">="):
            # numeric-vs-string comparisons follow Spark coercion, which
            # matches expr-lang's strict-number comparisons for the
            # declared-schema case the reference supports.
            cmp = {
                "==": left == right,
                "!=": left != right,
                "<": left < right,
                "<=": left <= right,
                ">": left > right,
                ">=": left >= right,
            }[op]
            return cmp, "bool"

        if op == "in" or op == "not in":
            if rk == "map":
                res = F.map_contains_key(right, left)
            else:
                res = F.array_contains(right, left)
            res = F.coalesce(res, F.lit(False))
            return (~res if op == "not in" else res), "bool"

        if op == "matches":
            return F.coalesce(F.regexp_like(left.cast("string"), right), F.lit(False)), "bool"
        if op == "contains":
            return F.coalesce(left.cast("string").contains(right), F.lit(False)), "bool"
        if op == "startsWith":
            return F.coalesce(left.cast("string").startswith(right), F.lit(False)), "bool"
        if op == "endsWith":
            return F.coalesce(left.cast("string").endswith(right), F.lit(False)), "bool"

        if op == "+":
            if lk == "str" or rk == "str":
                return F.concat(left.cast("string"), right.cast("string")), "str"
            if lk == "array" and rk == "array":
                return F.concat(left, right), "array"
            return left + right, "float" if "float" in (lk, rk) else "int"
        if op == "-":
            return left - right, "float" if "float" in (lk, rk) else "int"
        if op == "*":
            return left * right, "float" if "float" in (lk, rk) else "int"
        if op == "/":
            # Spark-native: always floating division. (expr-lang/Go would
            # integer-divide two ints; the engine standardizes on SQL
            # semantics — documented divergence.)
            return left / right, "float"
        if op == "%":
            return left % right, "int" if (lk, rk) == ("int", "int") else "float"
        if op == "^":
            return F.pow(left.cast("double"), right.cast("double")), "float"

        raise ExprTranslationError(f"unhandled binary op {op!r}")
