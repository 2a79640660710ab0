"""Model objects: Settings, Comparison, ComparisonLevel, BlockingRule.

Mirrors the semantics of the reference's settings dict
(reference: splink/settings.py::Settings, splink/comparison.py::Comparison,
splink/comparison_level.py::ComparisonLevel, splink/blocking.py::BlockingRule)
but as plain dataclasses serialisable to/from JSON. The model IS the query:
a trained model is the settings tree with m/u probabilities filled in.

Fellegi–Sunter semantics reproduced here (SURVEY.md §1.3):
  - each Comparison has ordered, mutually exclusive ComparisonLevels;
    first-matching-level-wins; a null level short-circuits to gamma = -1
    and contributes Bayes factor 1 (match weight 0).
  - pair posterior odds = prior_odds * prod_c (m / u) over the level each
    comparison lands in; match_weight = log2(odds);
    match_probability = 2^w / (1 + 2^w).
"""

from __future__ import annotations

import functools
import json
import math
import re
from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import Column
from pyspark.sql import functions as F

# Sentinel gamma value for the null level (either side NULL).
# reference: splink/comparison_level.py (null level => comparison vector -1)
NULL_GAMMA = -1


@dataclass
class ComparisonLevel:
    """One level of a comparison: a predicate over `<col>_l` / `<col>_r`
    columns plus its m/u probabilities.

    ``condition`` is a Spark SQL boolean expression string referencing
    suffixed pair columns, e.g. ``"lang_l = lang_r"`` or
    ``"levenshtein(title_l, title_r) <= 2"``. ``sql_condition`` optionally
    overrides it for the DuckDB oracle when dialects differ.
    """

    label: str
    condition: str  # Spark SQL boolean expr over *_l / *_r columns
    m_probability: float | None = None
    u_probability: float | None = None
    is_null_level: bool = False
    is_else_level: bool = False
    tf_adjustment_column: str | None = None
    tf_adjustment_weight: float = 1.0
    tf_minimum_u_value: float = 0.0
    sql_condition: str | None = None  # ANSI/DuckDB override for oracles

    @property
    def oracle_condition(self) -> str:
        return self.sql_condition or self.condition

    def bayes_factor(self) -> float:
        """m/u for this level; 1.0 (weight 0) for null levels.

        reference: splink/comparison_level.py::ComparisonLevel
        (_bayes_factor_expression)
        """
        if self.is_null_level:
            return 1.0
        if self.m_probability is None or self.u_probability is None:
            raise ValueError(f"level {self.label!r} has no m/u probabilities")
        if self.u_probability == 0:
            return float("inf")
        return self.m_probability / self.u_probability

    def to_dict(self) -> dict[str, Any]:
        return {
            "label": self.label,
            "condition": self.condition,
            "m_probability": self.m_probability,
            "u_probability": self.u_probability,
            "is_null_level": self.is_null_level,
            "is_else_level": self.is_else_level,
            "tf_adjustment_column": self.tf_adjustment_column,
            "tf_adjustment_weight": self.tf_adjustment_weight,
            "tf_minimum_u_value": self.tf_minimum_u_value,
            "sql_condition": self.sql_condition,
        }

    @classmethod
    def from_dict(cls, d: dict[str, Any]) -> ComparisonLevel:
        return cls(**d)


@dataclass
class Comparison:
    """A named comparison: ordered levels over one or more columns.

    ``output_column_name`` determines the gamma column name
    (``gamma_<name>``), matching the reference's naming
    (reference: splink/comparison.py::Comparison._gamma_column_name).
    Levels are ordered highest-agreement first, after the (optional)
    null level; gamma values are assigned descending so the else level
    is gamma 0, as in the reference.
    """

    output_column_name: str
    levels: list[ComparisonLevel]
    input_columns: list[str] = field(default_factory=list)

    def __post_init__(self) -> None:
        non_null = [lv for lv in self.levels if not lv.is_null_level]
        if not non_null:
            raise ValueError(f"comparison {self.output_column_name!r}: no levels")
        if not non_null[-1].is_else_level:
            raise ValueError(
                f"comparison {self.output_column_name!r}: last level must be else"
            )

    @property
    def gamma_column(self) -> str:
        return f"gamma_{self.output_column_name}"

    @property
    def null_level(self) -> ComparisonLevel | None:
        for lv in self.levels:
            if lv.is_null_level:
                return lv
        return None

    @property
    def scored_levels(self) -> list[ComparisonLevel]:
        """Non-null levels in cascade order (highest gamma first)."""
        return [lv for lv in self.levels if not lv.is_null_level]

    def gamma_of(self, level: ComparisonLevel) -> int:
        """gamma value for a level: descending from n-1 to 0 (else)."""
        if level.is_null_level:
            return NULL_GAMMA
        scored = self.scored_levels
        return len(scored) - 1 - scored.index(level)

    def level_for_gamma(self, gamma: int) -> ComparisonLevel:
        if gamma == NULL_GAMMA:
            lv = self.null_level
            if lv is None:
                raise KeyError("no null level")
            return lv
        scored = self.scored_levels
        return scored[len(scored) - 1 - gamma]

    @property
    def num_scored_levels(self) -> int:
        return len(self.scored_levels)

    def gamma_expr(self) -> Column:
        """The CASE-WHEN cascade producing this comparison's gamma column.

        First-matching-level-wins; null level first
        (reference: splink/comparison_vector_values.py::
        compute_comparison_vector_values_sql).
        """
        expr: Column | None = None
        nl = self.null_level
        if nl is not None:
            expr = F.when(F.expr(nl.condition), F.lit(NULL_GAMMA))
        for lv in self.scored_levels:
            g = self.gamma_of(lv)
            if lv.is_else_level:
                tail = F.lit(g)
                expr = tail if expr is None else expr.otherwise(tail)
                return expr.cast("int")
            cond = F.expr(lv.condition)
            expr = F.when(cond, F.lit(g)) if expr is None else expr.when(cond, F.lit(g))
        raise AssertionError("unreachable: else level guaranteed by __post_init__")

    def gamma_sql(self) -> str:
        """ANSI CASE expression for the DuckDB oracle (same semantics)."""
        parts = ["CASE"]
        nl = self.null_level
        if nl is not None:
            parts.append(f"WHEN {nl.oracle_condition} THEN {NULL_GAMMA}")
        for lv in self.scored_levels:
            g = self.gamma_of(lv)
            if lv.is_else_level:
                parts.append(f"ELSE {g} END")
            else:
                parts.append(f"WHEN {lv.oracle_condition} THEN {g}")
        return " ".join(parts)

    def to_dict(self) -> dict[str, Any]:
        return {
            "output_column_name": self.output_column_name,
            "input_columns": self.input_columns,
            "levels": [lv.to_dict() for lv in self.levels],
        }

    @classmethod
    def from_dict(cls, d: dict[str, Any]) -> Comparison:
        return cls(
            output_column_name=d["output_column_name"],
            input_columns=d.get("input_columns", []),
            levels=[ComparisonLevel.from_dict(x) for x in d["levels"]],
        )


# ---------------------------------------------------------------------------
# Blocking-rule grammar: the one reader of rule text
# ---------------------------------------------------------------------------

# an ``l.``/``r.`` column reference (either letter case, spaces around
# the dot, bare or backtick-quoted name), matched on the masked text
_SIDE_REF = re.compile(r"\b([lr])\s*\.\s*(`#*`|\w+)", re.IGNORECASE)
# nesting (parens, CASE..END), connectives and the operators that
# contain '=', matched on the masked text; ``l.end`` is a column
_TOKEN = re.compile(
    r"<=>|[<>!=]=|[=()]|(?<![.\w])(?:and|or|case|end)\b", re.IGNORECASE
)
_IDENT = re.compile(r"`#*`|\b[A-Za-z_]\w*")
_KEYWORDS = {
    "and", "or", "not", "case", "when", "then", "else", "end",
    "null", "is", "in", "between", "like", "cast", "as", "true",
    "false", "distinct", "interval",
}


def _mask(s: str) -> str:
    """Same-length copy of ``s`` with the CONTENT of single-quoted
    string literals (``''`` and backslash escapes) and backtick-quoted
    identifiers (doubled-backtick escape) replaced by ``#``, quotes
    kept, so structural
    scans (parens, AND/OR, '=', ``l.``) cannot be corrupted by literals
    like ``':)'`` or ``'a AND l.x'``. Slice the ORIGINAL string at
    indices found on the mask."""
    out = list(s)
    quote = None
    i, n = 0, len(s)
    while i < n:
        c = s[i]
        if quote is None:
            if c in "'`":
                quote = c
        elif c == quote and i + 1 < n and s[i + 1] == quote:
            out[i] = out[i + 1] = "#"  # doubled-quote escape
            i += 1
        elif c == quote:
            quote = None
        else:
            out[i] = "#"
            if c == "\\" and quote == "'" and i + 1 < n:
                out[i + 1] = "#"
                i += 1
        i += 1
    return "".join(out)


def _depth0_tokens(text: str) -> list[tuple[str, int, int]]:
    """(upper-cased token, start, end) of the connectives and
    comparison operators outside every paren / CASE..END nesting."""
    out, depth = [], 0
    for m in _TOKEN.finditer(_mask(text)):
        t = m.group(0).upper()
        if t in ("(", "CASE"):
            depth += 1
        elif t in (")", "END"):
            depth -= 1
        elif depth == 0:
            out.append((t, m.start(), m.end()))
    return out


def _strip_parens(p: str) -> str:
    """Drop parens that wrap the whole of ``p``."""
    p = p.strip()
    while p.startswith("(") and p.endswith(")"):
        depth = 0
        for ch in _mask(p[1:-1]):
            depth += (ch == "(") - (ch == ")")
            if depth < 0:
                return p
        if depth:
            return p
        p = p[1:-1].strip()
    return p


def _conjuncts(text: str) -> list[str] | None:
    """``text`` split on AND (flattening parenthesised AND groups);
    None if it is an OR at its top level. A parenthesised OR group
    stays one conjunct."""
    text = _strip_parens(text)
    cuts = []
    for t, s, e in _depth0_tokens(text):
        if t == "OR":
            return None
        if t == "AND":
            cuts.append((s, e))
    if not cuts:
        return [text]
    bounds = [0] + [x for cut in cuts for x in cut] + [len(text)]
    out: list[str] = []
    for s, e in zip(bounds[::2], bounds[1::2]):
        part = text[s:e].strip()
        out.extend(_conjuncts(part) or [part])
    return out


def _sides(expr: str) -> set[str]:
    return {m.group(1).lower() for m in _SIDE_REF.finditer(_mask(expr))}


def _strip_alias(expr: str, side: str) -> str:
    """``expr`` with its ``<side>.`` qualifiers removed."""
    out, prev = [], 0
    for m in _SIDE_REF.finditer(_mask(expr)):
        if m.group(1).lower() == side:
            out.append(expr[prev : m.start(1)])
            prev = m.start(2)
    out.append(expr[prev:])
    return "".join(out)


def _equi_component(conjunct: str) -> tuple[str, str] | None:
    """(l-expression, r-expression) if ``conjunct`` is ``f(l) = g(r)``
    (either orientation): one top-level '=' and no NOT around it."""
    ops = [(t, s) for t, s, _ in _depth0_tokens(conjunct) if t != "AND"]
    if len(ops) != 1 or ops[0][0] != "=" or re.match(r"(?i)not\b", conjunct):
        return None
    eq = ops[0][1]
    a, b = conjunct[:eq].strip(), conjunct[eq + 1 :].strip()
    sa, sb = _sides(a), _sides(b)
    if sa == {"l"} and sb == {"r"}:
        return a, b
    if sa == {"r"} and sb == {"l"}:
        return b, a
    return None


@functools.lru_cache(maxsize=None)
def _rule_columns(rule: str) -> frozenset[str]:
    return frozenset(
        rule[m.start(2) : m.end(2)].strip("`").replace("``", "`")
        for m in _SIDE_REF.finditer(_mask(rule))
    )


@functools.lru_cache(maxsize=None)
def _rule_equi_components(rule: str) -> tuple[tuple[str, str], ...]:
    return tuple(e for e in map(_equi_component, _conjuncts(rule) or []) if e)


def _alias_columns(expr: str, side: str) -> str:
    """``expr`` with every bare column reference qualified by ``side``
    (function names, keywords, already-qualified names and literals
    are left alone); a lone column name is always qualified."""
    expr = expr.strip()
    masked = _mask(expr)
    if _IDENT.fullmatch(masked):
        return f"{side}.{expr}"
    out, prev = [], 0
    for m in _IDENT.finditer(masked):
        tok = expr[m.start() : m.end()]
        if (
            masked[: m.start()].rstrip().endswith(".")
            or masked[m.end() :].lstrip().startswith("(")
            or tok.lower() in _KEYWORDS
        ):
            continue
        out.append(expr[prev : m.start()] + f"{side}.")
        prev = m.start()
    out.append(expr[prev:])
    return "".join(out)


@dataclass
class BlockingRule:
    """A blocking rule: a boolean join condition over ``l.`` / ``r.``
    aliases, e.g. ``"l.source = r.source AND l.lang = r.lang"``.

    reference: splink/blocking.py::BlockingRule. ``salting_partitions``
    mirrors the reference's salted blocking (splink/blocking.py
    salting_partitions), but our salt is deterministic (hash-based) —
    SURVEY.md §7.3(e).

    The rule grammar the engine reads (everything else about the rule
    is Spark's to parse): string literals and backtick-quoted names are
    opaque; the rule splits on top-level AND (parenthesised AND groups
    flatten; parens and CASE..END nest); each conjunct of the form
    ``f(l) = g(r)`` is an equi component, i.e. a join key Catalyst
    extracts. A top-level OR leaves no equi components.
    """

    rule: str
    salting_partitions: int = 1
    sql_rule: str | None = None  # DuckDB-dialect override for oracles
    # Skew governor: blocks whose key count exceeds this take a
    # broadcast join path instead of the shuffle hash join (0 = off).
    # Salting splits a hot block across shuffle keys; this removes the
    # hot block from the shuffle entirely — the north rule's "broadcast
    # threshold on oversized blocks" for popular-domain pathologies.
    broadcast_hot_keys_above: int = 0

    @property
    def oracle_rule(self) -> str:
        return self.sql_rule or self.rule

    @property
    def columns(self) -> frozenset[str]:
        """Names of the columns the rule reads as ``l.<c>`` / ``r.<c>``."""
        return _rule_columns(self.rule)

    @property
    def equi_components(self) -> list[tuple[str, str]]:
        """The ``f(l) = g(r)`` AND-conjuncts as (l-expression,
        r-expression) strings. Every pair the rule matches satisfies
        all of them, so a key computed from them is equal on both sides
        of the join."""
        return list(_rule_equi_components(self.rule))

    @property
    def equi_keys(self) -> list[tuple[str, str]]:
        """``equi_components`` with the ``l.``/``r.`` qualifiers
        removed: expressions over one unaliased input frame."""
        return [
            (_strip_alias(a, "l"), _strip_alias(b, "r"))
            for a, b in self.equi_components
        ]

    def to_dict(self) -> dict[str, Any]:
        return {
            "rule": self.rule,
            "salting_partitions": self.salting_partitions,
            "sql_rule": self.sql_rule,
            "broadcast_hot_keys_above": self.broadcast_hot_keys_above,
        }

    @classmethod
    def from_dict(cls, d: dict[str, Any] | str) -> BlockingRule:
        if isinstance(d, str):
            return cls(rule=d)
        return cls(**d)

    @classmethod
    def coerce(cls, rule: BlockingRule | str) -> BlockingRule:
        """``rule`` itself, or a BlockingRule over the rule string."""
        return rule if isinstance(rule, BlockingRule) else cls(rule=rule)


def block_on(
    *cols: str,
    salting_partitions: int = 1,
    broadcast_hot_keys_above: int = 0,
) -> BlockingRule:
    """The reference's primary blocking-rule constructor: each argument
    is a column name or a SQL expression evaluated on both sides, and
    the rule is the AND of their l/r equalities —
    ``block_on("first_name", "substr(surname, 1, 2)")`` →
    ``l.first_name = r.first_name AND
    substr(l.surname, 1, 2) = substr(r.surname, 1, 2)``.

    Bare column names get the ``l.``/``r.`` alias; expressions have
    every column reference aliased by the same rewrite the blocking
    compiler applies, so the produced rule's equi keys are always
    extractable (governable + salting-compatible).

    reference: splink/blocking_rule_library.py::block_on.
    """
    if not cols:
        raise ValueError("block_on needs at least one column/expression")
    conjuncts = [
        f"{_alias_columns(c, 'l')} = {_alias_columns(c, 'r')}" for c in cols
    ]
    return BlockingRule(
        rule=" AND ".join(conjuncts),
        salting_partitions=salting_partitions,
        broadcast_hot_keys_above=broadcast_hot_keys_above,
    )


def prior_to_match_weight(prior: float) -> float:
    """log2 prior odds. reference: splink/predict.py (bf_prior term)."""
    if not 0.0 < prior < 1.0:
        raise ValueError(f"prior must be in (0,1), got {prior}")
    return math.log2(prior / (1.0 - prior))


@dataclass
class Settings:
    """The full model: link type, blocking rules, comparisons, prior.

    reference: splink/settings.py::Settings. JSON round-trip provides
    save_model/load_model parity
    (reference: splink/linker.py::Linker.save_model_to_json / load_model).
    """

    comparisons: list[Comparison]
    blocking_rules: list[BlockingRule] = field(default_factory=list)
    link_type: str = "dedupe_only"  # dedupe_only | link_only | link_and_dedupe
    unique_id_column_name: str = "unique_id"
    source_dataset_column_name: str = "source_dataset"
    probability_two_random_records_match: float = 1e-4
    em_convergence: float = 1e-4
    max_iterations: int = 25
    # derived pair columns computed ONCE before the gamma cascade
    # (ordered name -> Spark SQL expr over pair columns; later exprs
    # may reference earlier names). Use for shared sub-expressions
    # that multiple comparison levels need — e.g. a token-Jaccard
    # value two threshold levels test — so the expensive array
    # traversal happens once per pair, not once per level. Names
    # starting with "__" are dropped after the gammas are computed.
    derived_pair_expressions: dict[str, str] = field(default_factory=dict)

    def __post_init__(self) -> None:
        # duplicate output names would silently produce colliding
        # gamma_<name> columns (last-write-wins in a DataFrame chain,
        # first-bind in SQL — different answers per engine); fail fast
        names = [c.output_column_name for c in self.comparisons]
        dupes = {n for n in names if names.count(n) > 1}
        if dupes:
            raise ValueError(
                "duplicate comparison output_column_name(s): "
                f"{sorted(dupes)} — each comparison needs a distinct "
                "name (set output_column_name explicitly)"
            )

    @property
    def uid(self) -> str:
        return self.unique_id_column_name

    @property
    def gamma_columns(self) -> list[str]:
        return [c.gamma_column for c in self.comparisons]

    @property
    def prior_match_weight(self) -> float:
        return prior_to_match_weight(self.probability_two_random_records_match)

    def comparison(self, name: str) -> Comparison:
        for c in self.comparisons:
            if c.output_column_name == name:
                return c
        raise KeyError(name)

    def to_dict(self) -> dict[str, Any]:
        return {
            "link_type": self.link_type,
            "unique_id_column_name": self.unique_id_column_name,
            "source_dataset_column_name": self.source_dataset_column_name,
            "probability_two_random_records_match": (
                self.probability_two_random_records_match
            ),
            "em_convergence": self.em_convergence,
            "max_iterations": self.max_iterations,
            "derived_pair_expressions": dict(self.derived_pair_expressions),
            "blocking_rules": [b.to_dict() for b in self.blocking_rules],
            "comparisons": [c.to_dict() for c in self.comparisons],
        }

    @classmethod
    def from_dict(cls, d: dict[str, Any]) -> Settings:
        return cls(
            link_type=d.get("link_type", "dedupe_only"),
            unique_id_column_name=d.get("unique_id_column_name", "unique_id"),
            source_dataset_column_name=d.get(
                "source_dataset_column_name", "source_dataset"
            ),
            probability_two_random_records_match=d.get(
                "probability_two_random_records_match", 1e-4
            ),
            em_convergence=d.get("em_convergence", 1e-4),
            max_iterations=d.get("max_iterations", 25),
            derived_pair_expressions=dict(
                d.get("derived_pair_expressions", {})
            ),
            blocking_rules=[
                BlockingRule.from_dict(b) for b in d.get("blocking_rules", [])
            ],
            comparisons=[Comparison.from_dict(c) for c in d["comparisons"]],
        )

    def to_json(self) -> str:
        return json.dumps(self.to_dict(), indent=2)

    @classmethod
    def from_json(cls, s: str) -> Settings:
        return cls.from_dict(json.loads(s))

    def save(self, path: str) -> None:
        with open(path, "w") as f:
            f.write(self.to_json())

    @classmethod
    def load(cls, path: str) -> Settings:
        with open(path) as f:
            return cls.from_json(f.read())
