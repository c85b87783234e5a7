"""S-expression (snuggs) compiler: Fiona's expression language -> Columns.

The reference evaluates s-expressions *per feature, re-parsing per row*
(`fiona/fio/features.py:254-267`; engine `fiona/features.py:232-279`;
vendored parser `fiona/_vendor/snuggs.py`).  Operators supported there:
``* + / - % & | < <= == != >= > truth is not`` (`snuggs.py:102-118`),
name resolution against the feature ``f``, its geometry ``g``, and the
collection ``c`` (`fiona/features.py:267,309`).

Here the same expression compiles ONCE into a ``pyspark.sql.Column``
tree that Catalyst constant-folds and codegens — the per-row parse cost
the reference pays simply does not exist.  Property names resolve to
DataFrame columns (the reference's ``(get f "NAME")``); geometry
functions resolve to the feature functions of ``functions.geometry``
(Arrow UDFs and JVM expressions) over the whole geometry, the ring
columns (geom_type, rings_xs, rings_ys).

Grammar (minimal, matches what the reference's own tests exercise):

    expr     := atom | '(' op expr* ')'
    atom     := number | 'string' | "string" | symbol | :keyword
    symbol   := property name, or f.properties.NAME / f.NAME sugar

Example ports of reference expressions:
    (< (distance g (Point 4 43)) 1)   -> distance_to(xs, ys, 4, 43) < 1
    (> (get f "AREA") 10)             -> col("AREA") > 10
    (truth FEATURE2)                  -> col("FEATURE2").isNotNull() & ...
"""

from __future__ import annotations

import re

from pyspark.sql import Column, functions as F

from .schema import with_rings

_TOKEN = re.compile(r"""\s*(?:
    (?P<open>\() | (?P<close>\)) |
    (?P<str>'[^']*'|"[^"]*") |
    (?P<num>-?\d+\.?\d*(?:[eE][+-]?\d+)?) |
    (?P<kw>:[A-Za-z_][\w.]*) |
    (?P<sym>[^\s()'"]+)
)""", re.VERBOSE)


class ExpressionError(ValueError):
    """Bad snuggs expression (parse or compile)."""


def parse(text: str):
    """Parse an s-expression string into nested Python lists/atoms."""
    pos, stack, top = 0, [], []
    while pos < len(text):
        m = _TOKEN.match(text, pos)
        if not m:
            raise ExpressionError(f"bad token at {text[pos:pos+20]!r}")
        pos = m.end()
        if m.lastgroup == "open":
            stack.append(top)
            top = []
        elif m.lastgroup == "close":
            if not stack:
                raise ExpressionError("unbalanced ')'")
            done, top = top, stack.pop()
            top.append(done)
        elif m.lastgroup == "str":
            top.append(("str", m.group("str")[1:-1]))
        elif m.lastgroup == "num":
            t = m.group("num")
            top.append(("num", float(t) if ("." in t or "e" in t or "E" in t)
                        else int(t)))
        elif m.lastgroup == "kw":
            top.append(("kw", m.group("kw")[1:]))
        else:
            top.append(("sym", m.group("sym")))
    if stack:
        raise ExpressionError("unbalanced '('")
    if len(top) != 1:
        raise ExpressionError(f"expected one expression, got {len(top)}")
    return top[0]


_BINOPS = {
    "+": lambda a, b: a + b, "-": lambda a, b: a - b,
    "*": lambda a, b: a * b, "/": lambda a, b: a / b,
    "%": lambda a, b: a % b,
    "<": lambda a, b: a < b, "<=": lambda a, b: a <= b,
    ">": lambda a, b: a > b, ">=": lambda a, b: a >= b,
    "==": lambda a, b: a == b, "!=": lambda a, b: a != b,
    "&": lambda a, b: a & b, "|": lambda a, b: a | b,
}

# Python-builtin-style scalars the reference exposes through its
# func_map fallback (`fiona/_vendor/snuggs.py` resolve_func + docs
# "Python builtins such as dict, list, and map").
_BUILTINS = {
    "upper": lambda c: F.upper(c),
    "lower": lambda c: F.lower(c),
    "abs": lambda c: F.abs(c),
    "int": lambda c: c.cast("long"),
    "float": lambda c: c.cast("double"),
    "str": lambda c: c.cast("string"),
    "round": lambda c, n=None: F.round(c, 0 if n is None else n),
    "len": lambda c: F.length(c),
    "list": lambda *cs: F.array(*cs),
}

# Higher-order names (`fiona/_vendor/snuggs.py:132-140`): these are
# COMPILE-TIME combinators here — they build Column-functions that the
# enclosing expression applies, which is the only way the reference's
# own pipelines consume them (a lambda never escapes an expression).
_HIGHER = ("map", "reduce", "partial", "compose", "attrgetter",
           "itemgetter", "methodcaller")


class Compiler:
    """Compile parsed snuggs to a Column against a feature DataFrame.

    ``funcs``: extra name -> callable(Column...) -> Column, mirroring
    the reference's injectable ``func_map`` (`fiona/features.py:213-229`).
    Geometry symbols: ``g`` resolves via feature functions that expect
    the ring columns (geom_type, rings_xs, rings_ys) on the row (see
    :func:`filter_features` for a frame with only the first ring).
    """

    def __init__(self, funcs: dict | None = None):
        from .functions import geometry as gf
        self.funcs = {
            "area": lambda: gf.area_udf()(*gf.RING_ARGS),
            "length": lambda: gf.length_udf()(*gf.RING_ARGS),
            "vertex_count": gf.vertex_count,
            "bounds_width": lambda: F.col("xmax") - F.col("xmin"),
            "distance": self._distance,
        }
        self.funcs.update(funcs or {})

    def _distance(self, *args):
        from .functions import geometry as gf
        # (distance g (Point x y)): centroid-to-point distance
        if len(args) == 1 and isinstance(args[0], tuple) and args[0][0] == "point":
            x, y = args[0][1]
            return gf.distance_udf()(F.col("lng"), F.col("lat"),
                                     F.lit(float(x)), F.lit(float(y)))
        raise ExpressionError("distance expects (distance g (Point x y))")

    def compile(self, node) -> Column:
        col = self._c(node)
        if isinstance(col, tuple):
            raise ExpressionError(f"expression reduced to non-column {col!r}")
        return col

    def _c(self, node):
        if isinstance(node, tuple):
            kind, val = node
            if kind in ("num",):
                return F.lit(val)
            if kind == "str":
                return F.lit(val)
            if kind == "kw":
                return ("kw", val)
            # symbol
            if val in ("g", "f", "c"):
                return ("ctx", val)
            name = val
            for prefix in ("f.properties.", "f."):
                if name.startswith(prefix):
                    name = name[len(prefix):]
            return F.col(name)
        if not isinstance(node, list) or not node:
            raise ExpressionError(f"bad node {node!r}")
        head = node[0]
        if isinstance(head, tuple) and head[0] == "sym":
            op = head[1]
            args = node[1:]
            if op in _HIGHER:
                return self._higher(op, args)
            if op in ("simplify", "buffer", "set_precision"):
                return self._constructive(op, args)
            if op in _BINOPS:
                cols = [self._c(a) for a in args]
                out = cols[0]
                for c in cols[1:]:
                    out = _BINOPS[op](out, c)
                return out
            if op == "not":
                return ~self._c(args[0])
            if op == "truth":
                # Python truthiness (the reference applies `truth` per
                # feature value): numerics/bools by value, strings by
                # non-emptiness, NULL falsy
                c = self._c(args[0])
                d = c.try_cast("double")
                return c.isNotNull() & (
                    F.when(d.isNotNull(), d != 0.0)
                    .otherwise(F.length(c.cast("string")) > 0))
            if op == "is":
                a, b = self._c(args[0]), args[1]
                if isinstance(b, tuple) and b[1] in ("None", "null", "nil"):
                    return a.isNull()
                return a.eqNullSafe(self._c(b))
            if op == "get":
                ctx, key = self._c(args[0]), args[1]
                if key[0] != "str":
                    raise ExpressionError("(get f \"name\") needs a string key")
                return F.col(key[1])
            if op in ("Point", "point"):
                vals = [a[1] for a in args]
                return ("point", vals)
            if op in self.funcs:
                cargs = [self._c(a) for a in args
                         if not (isinstance(a, tuple) and a[1] in ("g", "f", "c"))]
                return self.funcs[op](*cargs)
            if op in _BUILTINS:
                cargs = [self._c(a) for a in args
                         if not (isinstance(a, tuple) and a[1] in ("g", "f", "c"))]
                # Python-truthy strings pass bare: (upper f) applies to
                # the feature context -> no usable column; require args
                if not cargs:
                    raise ExpressionError(f"{op!r} needs a column argument")
                return _BUILTINS[op](*cargs)
            raise ExpressionError(f"unknown function {op!r}")
        if isinstance(head, list):
            # ((partial + 1) x): applying a compiled higher-order result
            fn = self._c(head)
            if not callable(fn):
                raise ExpressionError(f"cannot apply non-function {head!r}")
            return fn(*[self._c(a) for a in node[1:]])
        raise ExpressionError(f"cannot apply {head!r}")

    # -- higher-order support (reference _vendor/snuggs.py:132-140) ------

    def _fn(self, node):
        """Resolve a node to a Column-function (for HOF argument slots)."""
        if isinstance(node, tuple) and node[0] == "sym":
            name = node[1]
            if name in _BINOPS:
                return _BINOPS[name]
            if name in _BUILTINS:
                return _BUILTINS[name]
            if name in self.funcs:
                return self.funcs[name]
            raise ExpressionError(f"{name!r} is not a function")
        out = self._c(node)
        if not callable(out):
            raise ExpressionError(f"expected a function, got {node!r}")
        return out

    def _split_kwargs(self, args):
        """Split raw arg nodes into (positional, kwargs) — the
        ``:name value`` convention of the reference parser
        (`_vendor/snuggs.py:189-196` KeywordArg handling)."""
        pos, kwds = [], {}
        it = iter(args)
        for a in it:
            if isinstance(a, tuple) and a[0] == "kw":
                try:
                    kwds[a[1]] = next(it)
                except StopIteration:
                    raise ExpressionError(f"keyword :{a[1]} missing a value")
            else:
                pos.append(a)
        return pos, kwds

    def _higher(self, op, args):
        if op == "map":
            fn = self._fn(args[0])
            seq = self._c(args[1])
            return F.transform(seq, lambda x: fn(x))
        if op == "reduce":
            fn = self._fn(args[0])
            seq = self._c(args[1])
            if len(args) > 2:
                init = self._c(args[2])
                return F.aggregate(seq, init, fn)
            # no init: fold the tail onto the head, like functools.reduce
            rest = F.slice(seq, 2, F.greatest(F.size(seq) - 1, F.lit(0)))
            return F.aggregate(rest, F.element_at(seq, 1), fn)
        if op == "partial":
            fn = self._fn(args[0])
            pre, kw = self._split_kwargs(args[1:])
            pre_c = [self._c(a) for a in pre]
            kw_c = {k: self._c(v) for k, v in kw.items()}
            return lambda *more: fn(*pre_c, *more, **kw_c)
        if op == "compose":
            fns = [self._fn(a) for a in args]
            def composed(*xs, _fns=fns):
                out = _fns[-1](*xs)
                for f in reversed(_fns[:-1]):
                    out = f(out)
                return out
            return composed
        if op == "attrgetter":
            key = args[0]
            if key[0] != "str":
                raise ExpressionError("(attrgetter \"name\") needs a string")
            return lambda c: c.getField(key[1])
        if op == "itemgetter":
            idx = args[0]
            if idx[0] != "num":
                raise ExpressionError("(itemgetter n) needs a number")
            return lambda c: c.getItem(int(idx[1]))
        if op == "methodcaller":
            key = args[0]
            if key[0] != "str" or key[1] not in _BUILTINS:
                known = sorted(_BUILTINS)
                raise ExpressionError(
                    f"methodcaller supports {known}, got {key!r}")
            extra = [self._c(a) for a in args[1:]]
            return lambda c: _BUILTINS[key[1]](c, *extra)
        raise ExpressionError(f"unhandled higher-order {op!r}")

    def _constructive(self, op, args):
        """Geometry-returning functions with :kwarg support — simplify /
        buffer / set_precision (`fiona/features.py:128-211`), over the
        ring columns; returns a struct(geom_type, rings_xs, rings_ys)."""
        from .functions import geometry as gf
        pos, kw = self._split_kwargs(
            [a for a in args if not (isinstance(a, tuple)
                                     and a[1] in ("g", "f", "c"))])

        def lit_of(node, name):
            if isinstance(node, tuple) and node[0] == "num":
                return float(node[1])
            raise ExpressionError(f"{op} {name} must be a number literal")

        if op == "simplify":
            tol = lit_of(pos[0] if pos else kw.get("tolerance"), "tolerance")
            return gf.simplify_udf(tol)(*gf.RING_ARGS)
        if op == "buffer":
            dist = lit_of(pos[0] if pos else kw.get("distance"), "distance")
            return gf.buffer_udf(dist)(*gf.RING_ARGS)
        gs = lit_of(pos[0] if pos else kw.get("grid_size"), "grid_size")
        return F.struct(F.col("geom_type"), *(
            F.transform(c, lambda r: gf.set_precision_expr(r, gs)).alias(c)
            for c in ("rings_xs", "rings_ys")))


def compile_expr(text: str, funcs: dict | None = None) -> Column:
    """Parse + compile a snuggs expression string to one Column."""
    return Compiler(funcs).compile(parse(text))


def filter_features(df, text: str):
    """``fio filter`` parity: keep rows where the expression is truthy
    (`fiona/fio/features.py:106-191`), compiled once, codegen'd.  A
    frame with only the first ring is read through
    ``schema.with_rings``; the output keeps the input's columns."""
    return (with_rings(df).filter(compile_expr(text).cast("boolean"))
            .select(*df.columns))


def calc_feature(df, name: str, text: str, overwrite: bool = False):
    """``fio calc`` parity (`fiona/fio/calc.py:19-63`): add a computed
    property; refuses to overwrite unless asked, like the reference."""
    if name in df.columns and not overwrite:
        raise ExpressionError(f"property {name!r} exists (pass overwrite=True)")
    cols = df.columns if name in df.columns else [*df.columns, name]
    return with_rings(df).withColumn(name, compile_expr(text)).select(*cols)
