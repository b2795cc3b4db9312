"""Formula-DSL compiler — the reference's expression language for estimating
ungauged stations, compiled to native Spark Columns (never ``eval``).

Reference grammar (``Station_Estimates.csv``, interpreter at
``dischargeobs_write_xl.py:196-207,253-262``): arithmetic over station
references with optional clipping, e.g.

    (0.0006*{08KG001}^2+0.0928*{08KG001}-0.5642).clip(lower=0.001)

Grammar (this module, recursive descent):

    expr     := term (('+' | '-') term)*
    term     := unary (('*' | '/') unary)*
    unary    := '-' unary | power
    power    := postfix ('^' unary)?        # right-assoc; binds tighter than
                                            # a LEADING unary minus, exactly
                                            # like Python ** (the reference
                                            # interpreter is eval after
                                            # '^'→'**'): -2^2 == -(2^2) == -4,
                                            # while 2^-3 parses the signed
                                            # exponent
    postfix  := primary ('.clip(' 'lower=' NUMBER ')')*
    primary  := NUMBER | '{' STATION '}' | '(' expr ')'

Three backends share one AST: ``to_column`` (Spark), ``to_sql`` (ANSI SQL for
the DuckDB oracle), ``evaluate`` (plain Python, property-test reference).
Because the output is an ordinary Column tree, a compiled formula folds into
whole-stage codegen exactly like hand-written arithmetic — the "computed
station" operator costs nothing beyond its math.
"""

from __future__ import annotations

import re
from dataclasses import dataclass

from pyspark.sql import Column
from pyspark.sql import functions as F

_TOKEN_RE = re.compile(
    r"\s*(?:"
    # the trailing-dot float ('2.') must NOT swallow the dot of a
    # following '.clip(...)' — '2.clip(lower=3)' is grammar-valid and
    # the greedy \d+\.\d* spelling lexed it as number '2.' + bad token
    r"(?P<number>\d+\.\d+|\.\d+|\d+\.(?!clip)|\d+)"
    r"|\{(?P<station>[^}]+)\}"
    r"|(?P<clip>\.clip\(\s*lower\s*=\s*(?P<clipval>-?(?:\d+\.\d*|\.\d+|\d+))\s*\))"
    r"|(?P<op>[-+*/^()])"
    r")"
)


@dataclass(frozen=True)
class Num:
    value: float


@dataclass(frozen=True)
class Ref:
    name: str


@dataclass(frozen=True)
class BinOp:
    op: str
    left: object
    right: object


@dataclass(frozen=True)
class Neg:
    operand: object


@dataclass(frozen=True)
class Clip:
    operand: object
    lower: float


class FormulaError(ValueError):
    pass


def _tokenize(text: str) -> list[tuple[str, object]]:
    tokens: list[tuple[str, object]] = []
    pos = 0
    while pos < len(text):
        m = _TOKEN_RE.match(text, pos)
        if not m or m.end() == pos:
            if text[pos:].strip():
                raise FormulaError(f"bad token at {pos!r}: {text[pos:pos+20]!r}")
            break
        if m.group("number") is not None:
            tokens.append(("num", float(m.group("number"))))
        elif m.group("station") is not None:
            tokens.append(("ref", m.group("station").strip()))
        elif m.group("clip") is not None:
            tokens.append(("clip", float(m.group("clipval"))))
        else:
            tokens.append(("op", m.group("op")))
        pos = m.end()
    return tokens


class _Parser:
    def __init__(self, tokens: list[tuple[str, object]]):
        self.tokens = tokens
        self.i = 0

    def peek(self):
        return self.tokens[self.i] if self.i < len(self.tokens) else (None, None)

    def take(self):
        tok = self.peek()
        self.i += 1
        return tok

    def expect_op(self, op: str):
        kind, val = self.take()
        if kind != "op" or val != op:
            raise FormulaError(f"expected {op!r}, got {val!r}")

    def parse(self):
        node = self.expr()
        if self.i != len(self.tokens):
            raise FormulaError(f"trailing tokens: {self.tokens[self.i:]}")
        return node

    def expr(self):
        node = self.term()
        while self.peek() == ("op", "+") or self.peek() == ("op", "-"):
            _, op = self.take()
            node = BinOp(op, node, self.term())
        return node

    def term(self):
        node = self.unary()
        while self.peek() == ("op", "*") or self.peek() == ("op", "/"):
            _, op = self.take()
            node = BinOp(op, node, self.unary())
        return node

    def unary(self):
        if self.peek() == ("op", "-"):
            self.take()
            return Neg(self.unary())
        return self.power()

    def power(self):
        node = self.postfix()
        if self.peek() == ("op", "^"):
            self.take()
            # right-assoc via unary: the exponent may itself be signed or a
            # further power (2^-3, 2^3^2), but a LEADING minus stays outside
            node = BinOp("^", node, self.unary())
        return node

    def postfix(self):
        node = self.primary()
        while self.peek()[0] == "clip":
            _, lower = self.take()
            node = Clip(node, lower)
        return node

    def primary(self):
        kind, val = self.take()
        if kind == "num":
            return Num(val)
        if kind == "ref":
            return Ref(val)
        if kind == "op" and val == "(":
            node = self.expr()
            self.expect_op(")")
            return node
        raise FormulaError(f"unexpected token {val!r}")


def parse(formula: str):
    """Parse a formula string to its AST."""
    return _Parser(_tokenize(formula)).parse()


def references(formula: str) -> set[str]:
    """Station IDs a formula reads (dependency analysis; all reference
    formulas read raw gauges only — SURVEY.md §4)."""
    out: set[str] = set()

    def walk(node):
        if isinstance(node, Ref):
            out.add(node.name)
        elif isinstance(node, BinOp):
            walk(node.left)
            walk(node.right)
        elif isinstance(node, (Neg, Clip)):
            walk(node.operand)

    walk(parse(formula))
    return out


def to_column(formula: str) -> Column:
    """Compile to a Spark Column; a station ref reads the column of that
    name."""

    def build(node) -> Column:
        if isinstance(node, Num):
            return F.lit(node.value)
        if isinstance(node, Ref):
            return F.col(node.name)
        if isinstance(node, Neg):
            return -build(node.operand)
        if isinstance(node, Clip):
            # NOT plain greatest(): both Spark and DuckDB GREATEST skip
            # nulls, which would turn a missing gauge input into the clip
            # floor (a fabricated 0.001 m³/s where the reference pandas
            # .clip keeps NaN).  Null in → null out, like every other op.
            op = build(node.operand)
            return F.when(
                op.isNull(), F.lit(None).cast("double")
            ).otherwise(F.greatest(op, F.lit(node.lower)))
        assert isinstance(node, BinOp)
        if node.op == "^" and _small_int_exponent(node.right) is not None:
            # unroll small integer powers to multiplication: libm pow() is
            # not bit-identical across engines, x*x is (IEEE-exact op)
            base = build(node.left)
            out = base
            for _ in range(_small_int_exponent(node.right) - 1):
                out = out * base
            return out
        left, right = build(node.left), build(node.right)
        if node.op == "+":
            return left + right
        if node.op == "-":
            return left - right
        if node.op == "*":
            return left * right
        if node.op == "/":
            return left / right
        return F.pow(left, right)  # '^'

    return build(parse(formula))


def _small_int_exponent(node) -> int | None:
    if isinstance(node, Num) and node.value == int(node.value) and 1 <= node.value <= 4:
        return int(node.value)
    return None


def to_sql(formula: str) -> str:
    """Compile to an ANSI-SQL expression string (the DuckDB oracle twin);
    a station ref becomes the quoted identifier of that name."""

    def build(node) -> str:
        if isinstance(node, Num):
            return repr(node.value)
        if isinstance(node, Ref):
            return f'"{node.name}"'
        if isinstance(node, Neg):
            return f"(-{build(node.operand)})"
        if isinstance(node, Clip):
            # null-preserving twin of to_column's Clip (GREATEST skips nulls)
            op = build(node.operand)
            return (
                f"(CASE WHEN ({op}) IS NULL THEN NULL "
                f"ELSE GREATEST({op}, {node.lower!r}) END)"
            )
        assert isinstance(node, BinOp)
        if node.op == "^":
            n = _small_int_exponent(node.right)
            if n is not None:
                base = build(node.left)
                return "(" + " * ".join([base] * n) + ")"
            return f"POW({build(node.left)}, {build(node.right)})"
        return f"({build(node.left)} {node.op} {build(node.right)})"

    return build(parse(formula))


def evaluate(formula: str, env: dict[str, float | None]) -> float | None:
    """Plain-Python interpreter (property-test reference)."""

    def build(node):
        if isinstance(node, Num):
            return node.value
        if isinstance(node, Ref):
            return env.get(node.name)
        if isinstance(node, Neg):
            v = build(node.operand)
            return None if v is None else -v
        if isinstance(node, Clip):
            v = build(node.operand)
            return None if v is None else max(v, node.lower)
        assert isinstance(node, BinOp)
        left, right = build(node.left), build(node.right)
        if left is None or right is None:
            return None
        if node.op == "+":
            return left + right
        if node.op == "-":
            return left - right
        if node.op == "*":
            return left * right
        if node.op == "/":
            return left / right if right != 0 else None
        return left**right

    return build(parse(formula))
