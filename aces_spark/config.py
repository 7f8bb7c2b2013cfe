"""Task-configuration language: YAML → typed IR → window tree.

This is a from-scratch reimplementation of the reference engine's config
layer (``src/aces/config.py``; key anchors cited per class/method below).
It is pure Python — no Spark objects are built at config time; predicate
configs expose their SQL text (``sql_expr``), which the source layer
applies.

Grammar summary (reference ``src/aces/config.py:325-349``, ``:647-689``):

* A *plain predicate* matches MEDS rows by ``code`` (exact / regex /
  any-of list), optional ``numeric_value`` range with per-side
  inclusivity, and extra column equality constraints.
* A *derived predicate* is ``and(p1, ..., pn)`` / ``or(...)`` over other
  predicates' count columns (``>0`` each).
* A *window boundary* is ``None`` | ``$REF`` | ``$REF ± timedelta`` |
  ``$REF -> pred`` | ``$REF <- pred``, with ``$REF`` ∈ {``trigger``,
  ``<window>.start``, ``<window>.end``, this window's own
  ``start``/``end``}.
* ``has`` constraints are ``pred: "(min, max)"`` inclusive ranges with
  ``None`` meaning unbounded; ``"*"`` aliases ``_ANY_EVENT``.
"""

from __future__ import annotations

import dataclasses
import logging
import re
from collections.abc import Callable
from datetime import timedelta
from pathlib import Path
from typing import Any

import networkx as nx

from .types import (
    ANY_EVENT_COLUMN,
    END_OF_RECORD_KEY,
    START_OF_RECORD_KEY,
    TemporalWindowBounds,
    ToEventWindowBounds,
)
from .utils import Node, ident, parse_timedelta, sql_literal, sql_str

logger = logging.getLogger(__name__)

field = dataclasses.field


@dataclasses.dataclass
class PlainPredicateConfig:
    """A predicate over raw MEDS-style rows (reference
    ``src/aces/config.py:34-148``)."""

    code: str | dict[str, Any]
    value_min: float | None = None
    value_max: float | None = None
    value_min_inclusive: bool | None = None
    value_max_inclusive: bool | None = None
    static: bool = False
    other_cols: dict[str, str] = field(default_factory=dict)

    def sql_expr(self) -> str:
        """SQL text of this predicate as a boolean over a MEDS table with
        columns ``code`` / ``numeric_value`` (+ any ``other_cols``). Mirrors
        ``MEDS_eval_expr`` (``src/aces/config.py:44-148``): ``=`` / ``RLIKE``
        / ``IN`` plus range comparisons, conjoined."""
        criteria = []
        if isinstance(self.code, dict):
            if len(self.code) > 1:
                raise ValueError(
                    "Only one of 'regex' or 'any' can be specified in the code field! "
                    f"Got: {list(self.code.keys())}."
                )
            if "regex" in self.code:
                if not self.code["regex"] or not isinstance(self.code["regex"], str):
                    raise ValueError(
                        f"Invalid specification in the code field! Got: {self.code}. "
                        "Expected a non-empty string for 'regex'."
                    )
                criteria.append(f"code RLIKE {sql_str(self.code['regex'])}")
            elif "any" in self.code:
                if not self.code["any"] or not isinstance(self.code["any"], list):
                    raise ValueError(
                        f"Invalid specification in the code field! Got: {self.code}. "
                        "Expected a list of strings for 'any'."
                    )
                criteria.append(f"code IN ({', '.join(map(sql_literal, self.code['any']))})")
            else:
                raise ValueError(
                    f"Invalid specification in the code field! Got: {self.code}. "
                    "Expected one of 'regex', 'any'."
                )
        else:
            criteria.append(f"code = {sql_literal(self.code)}")

        if self.value_min is not None:
            op = ">=" if self.value_min_inclusive else ">"
            criteria.append(f"numeric_value {op} {sql_literal(self.value_min)}")
        if self.value_max is not None:
            op = "<=" if self.value_max_inclusive else "<"
            criteria.append(f"numeric_value {op} {sql_literal(self.value_max)}")

        for col, value in self.other_cols.items():
            criteria.append(f"{ident(col)} = {sql_literal(value)}")

        return " AND ".join(f"({c})" for c in criteria)

    def spark_expr(self):
        """:meth:`sql_expr` as a boolean pyspark Column."""
        from pyspark.sql import functions as F

        return F.expr(self.sql_expr())

    def esgpt_spark_expr(self, values_column: str | None = None):
        """Boolean pyspark Column evaluating this predicate on one ESGPT
        table (events / measurements / subjects). Mirrors ``ESGPT_eval_expr``
        (``src/aces/config.py:150-234``):

        * ``measurement//value`` → ``col(measurement) == value`` (value may
          itself contain ``//``);
        * ``event_type//X`` → the ``&``-joined ``event_type`` string split
          and searched for ``X`` (``array_contains(split(cast(str), "&"))``);
        * a bare column name with no value range → ``isNotNull()``;
        * a bare column name with a range → the range applies to that
          column itself;
        * value ranges on ``measurement//value`` predicates need the
          measurement's ``values_column``.
        """
        from functools import reduce

        from pyspark.sql import functions as F

        if isinstance(self.code, dict):
            raise ValueError(
                f"ESGPT predicates must use a plain 'measurement//value' code string. Got: {self.code}."
            )

        criteria = []
        if "//" in self.code:
            measurement_name, _, code = self.code.partition("//")
            if measurement_name.lower() == "event_type":
                criteria.append(
                    F.array_contains(F.split(F.col("event_type").cast("string"), "&", -1), code)
                )
            else:
                criteria.append(F.col(measurement_name) == code)
        elif self.value_min is None and self.value_max is None:
            return F.col(self.code).isNotNull()
        else:
            values_column = self.code

        if self.value_min is not None:
            if values_column is None:
                raise ValueError(
                    f"Must specify a values column for ESGPT predicates with a value_min = {self.value_min}"
                )
            if self.value_min_inclusive:
                criteria.append(F.col(values_column) >= self.value_min)
            else:
                criteria.append(F.col(values_column) > self.value_min)
        if self.value_max is not None:
            if values_column is None:
                raise ValueError(
                    f"Must specify a values column for ESGPT predicates with a value_max = {self.value_max}"
                )
            if self.value_max_inclusive:
                criteria.append(F.col(values_column) <= self.value_max)
            else:
                criteria.append(F.col(values_column) < self.value_max)

        for col, value in self.other_cols.items():
            criteria.append(F.col(col) == value)

        return reduce(lambda a, b: a & b, criteria)

    @property
    def is_plain(self) -> bool:
        return True


@dataclasses.dataclass
class DerivedPredicateConfig:
    """``and(...)`` / ``or(...)`` of other predicates' count columns
    (reference ``src/aces/config.py:241-315``)."""

    expr: str
    static: bool = False

    def __post_init__(self) -> None:
        if not self.expr:
            raise ValueError("Derived predicates must have a non-empty expression field.")

        self.is_and = self.expr.startswith("and(") and self.expr.endswith(")")
        self.is_or = self.expr.startswith("or(") and self.expr.endswith(")")
        if not (self.is_and or self.is_or):
            raise ValueError(
                f"Derived predicate expression must start with 'and(' or 'or('. Got: '{self.expr}'"
            )

        inner = self.expr[4:-1] if self.is_and else self.expr[3:-1]
        self.input_predicates = [x.strip() for x in inner.split(",")]

        if len(self.input_predicates) < 2:
            raise ValueError(
                "Derived predicate expression must have at least two input predicates "
                f"(comma separated). Got: '{self.expr}'"
            )

    def sql_expr(self, count: Callable[[str], str] = ident) -> str:
        """SQL text: all/any of ``count(p) > 0`` over the input predicates
        (reference ``eval_expr``, ``src/aces/config.py:295-311``).
        ``count(name)`` is the SQL text of predicate ``name``'s count."""
        op = " AND " if self.is_and else " OR "
        return op.join(f"({count(p)}) > 0" for p in self.input_predicates)

    def spark_expr(self):
        """:meth:`sql_expr` over the predicate-count columns, as a boolean
        pyspark Column."""
        from pyspark.sql import functions as F

        return F.expr(self.sql_expr())

    @property
    def is_plain(self) -> bool:
        return False


@dataclasses.dataclass
class WindowConfig:
    """One window of the task's temporal DAG (reference
    ``src/aces/config.py:318-838``). Exactly one of ``start``/``end`` must
    reference the other; the referenced side is the window's *root node*
    and attaches to the parent window (or trigger)."""

    start: str | None
    end: str | None
    start_inclusive: bool
    end_inclusive: bool
    has: dict[str, Any] = field(default_factory=dict)
    label: str | None = None
    index_timestamp: str | None = None

    @classmethod
    def _check_reference(cls, reference: str) -> None:
        # reference: src/aces/config.py:629-645
        err_str = (
            "Window boundary reference must be either a valid alphanumeric/'_' string "
            "or a reference to another window's start or end event, formatted as a valid "
            f"alphanumeric/'_' string, followed by '.start' or '.end'. Got: '{reference}'"
        )
        if "." in reference:
            if reference.count(".") > 1:
                raise ValueError(err_str)
            window, event = reference.split(".")
            if event not in {"start", "end"} or not re.match(r"^\w+$", window):
                raise ValueError(err_str)
        elif not re.match(r"^\w+$", reference):
            raise ValueError(err_str)

    @classmethod
    def _parse_boundary(cls, boundary: str) -> dict[str, Any]:
        # reference grammar: src/aces/config.py:647-689
        if "->" in boundary or "<-" in boundary:
            if "->" in boundary and "<-" in boundary:
                raise ValueError("Window boundary cannot contain both '->' and '<-' operators.")
            if "->" in boundary:
                ref, predicate = (x.strip() for x in boundary.split("->"))
            else:
                ref, predicate = (x.strip() for x in boundary.split("<-"))
                predicate = "-" + predicate
            cls._check_reference(ref)
            return {
                "referenced": ref,
                "offset": None,
                "event_bound": predicate,
                "occurs_before": "-" in predicate,
            }
        elif "+" in boundary or "-" in boundary:
            if "+" in boundary and "-" in boundary:
                raise ValueError("Window boundary cannot contain both '+' and '-' operators.")
            if "+" in boundary:
                ref, offset = (x.strip() for x in boundary.split("+"))
            else:
                ref, offset = (x.strip() for x in boundary.split("-"))
                offset = "-" + offset
            cls._check_reference(ref)
            try:
                parsed_offset = parse_timedelta(offset)
            except (ValueError, TypeError) as e:
                raise ValueError(f"Failed to parse timedelta from window offset for '{offset}'") from e
            if parsed_offset == timedelta(0):
                # zero offset collapses the edge to a bare reference; the
                # resulting no-op node is spliced out of the tree
                # (reference src/aces/config.py:679-681, :1642-1664)
                logger.warning("Window offset for %s is zero; this may not be intended.", boundary)
                return {"referenced": ref, "offset": None, "event_bound": None, "occurs_before": None}
            return {
                "referenced": ref,
                "offset": offset,
                "event_bound": None,
                "occurs_before": "-" in offset,
            }
        else:
            ref = boundary.strip()
            cls._check_reference(ref)
            return {"referenced": ref, "offset": None, "event_bound": None, "occurs_before": None}

    def __post_init__(self) -> None:
        # parse "(min, max)" constraint strings → tuples
        # (reference src/aces/config.py:691-704)
        if self.has is not None:
            for key in self.has:
                if isinstance(self.has[key], tuple):
                    continue
                elements = [e.strip() for e in self.has[key].strip("()").split(",")]
                if len(elements) != 2:
                    raise ValueError(
                        f"Invalid constraint format: {key}. "
                        f"Expected format: '(min, max)'. Got: '{self.has[key]}'"
                    )
                self.has[key] = tuple(
                    int(e) if e not in ("None", "") else None for e in elements
                )

        if self.start is None and self.end is None:
            raise ValueError(
                "Window cannot progress from the start of the record to the end of the record."
            )

        # None boundaries anchor at record start/end (src/aces/config.py:709-727)
        if self.start is None:
            self._parsed_start = {
                "referenced": "end",
                "offset": None,
                "event_bound": f"-{START_OF_RECORD_KEY}",
                "occurs_before": True,
            }
        else:
            self._parsed_start = self._parse_boundary(self.start)

        if self.end is None:
            self._parsed_end = {
                "referenced": "start",
                "offset": None,
                "event_bound": END_OF_RECORD_KEY,
                "occurs_before": False,
            }
        else:
            self._parsed_end = self._parse_boundary(self.end)

        # direction/validity rules (src/aces/config.py:729-752)
        if self._parsed_start["referenced"] == "end" and self._parsed_end["referenced"] == "start":
            raise ValueError(
                "Exactly one of the start or end of the window must reference the other. "
                f"Got: {self.start} -> {self.end}"
            )
        elif self._parsed_start["referenced"] == "end":
            self._start_references_end = True
            if self._parsed_start["occurs_before"] is False:
                raise ValueError(
                    f"Window start will not occur before window end! Got: {self.start} -> {self.end}"
                )
        elif self._parsed_end["referenced"] == "start":
            self._start_references_end = False
            if self._parsed_end["occurs_before"] is True:
                raise ValueError(
                    f"Window start will not occur before window end! Got: {self.start} -> {self.end}"
                )
        else:
            raise ValueError(
                "Exactly one of the start or end of the window must reference the other. "
                f"Got: {self.start} -> {self.end}"
            )

    @property
    def root_node(self) -> str:
        """'start' if end is defined relative to start, else 'end'
        (src/aces/config.py:754-757)."""
        return "end" if self._start_references_end else "start"

    @property
    def referenced_event(self) -> tuple[str, ...]:
        if self._start_references_end:
            return tuple(self._parsed_end["referenced"].split("."))
        return tuple(self._parsed_start["referenced"].split("."))

    @property
    def constraint_predicates(self) -> set[str]:
        return set(self.has.keys())

    @property
    def referenced_predicates(self) -> set[str]:
        predicates = set(self.has.keys())
        if self._parsed_start["event_bound"]:
            predicates.add(self._parsed_start["event_bound"].replace("-", ""))
        if self._parsed_end["event_bound"]:
            predicates.add(self._parsed_end["event_bound"].replace("-", ""))
        predicates -= {START_OF_RECORD_KEY, END_OF_RECORD_KEY}
        return predicates

    # endpoint expressions (src/aces/config.py:782-838): the non-root side
    # gets this window's inclusivities; a root side referencing an external
    # event carries no inclusivity constraints.
    @property
    def start_endpoint_expr(self) -> None | ToEventWindowBounds | TemporalWindowBounds:
        if self._start_references_end:
            left_inclusive = self.start_inclusive
            right_inclusive = self.end_inclusive
        else:
            left_inclusive = False
            right_inclusive = False

        if self._parsed_start["event_bound"]:
            return ToEventWindowBounds(
                end_event=self._parsed_start["event_bound"],
                left_inclusive=left_inclusive,
                right_inclusive=right_inclusive,
            )
        elif self._parsed_start["offset"]:
            return TemporalWindowBounds(
                window_size=parse_timedelta(self._parsed_start["offset"]),
                left_inclusive=left_inclusive,
                right_inclusive=right_inclusive,
            )
        return None

    @property
    def end_endpoint_expr(self) -> None | ToEventWindowBounds | TemporalWindowBounds:
        if self._start_references_end:
            left_inclusive = False
            right_inclusive = False
        else:
            left_inclusive = self.start_inclusive
            right_inclusive = self.end_inclusive

        if self._parsed_end["event_bound"]:
            return ToEventWindowBounds(
                end_event=self._parsed_end["event_bound"],
                left_inclusive=left_inclusive,
                right_inclusive=right_inclusive,
            )
        elif self._parsed_end["offset"]:
            return TemporalWindowBounds(
                window_size=parse_timedelta(self._parsed_end["offset"]),
                left_inclusive=left_inclusive,
                right_inclusive=right_inclusive,
            )
        return None


@dataclasses.dataclass
class EventConfig:
    """The trigger event predicate (reference ``src/aces/config.py:841-855``)."""

    predicate: str


@dataclasses.dataclass
class TaskExtractorConfig:
    """The compiled task: predicates + trigger + window tree (reference
    ``src/aces/config.py:858-1692``)."""

    predicates: dict[str, PlainPredicateConfig | DerivedPredicateConfig]
    trigger: EventConfig
    windows: dict[str, WindowConfig]
    label_window: str | None = None
    index_timestamp_window: str | None = None

    @classmethod
    def load(
        cls,
        config_path: str | Path,
        predicates_path: str | Path | None = None,
    ) -> TaskExtractorConfig:
        """Parse a YAML task config (+ optional predicates overlay file that
        overrides/extends ``predicates`` and ``patient_demographics``) into
        a validated config object. Mirrors the reference load pipeline
        (``src/aces/config.py:1100-1419``): overlay merge → referenced-
        predicate closure (unreferenced predicates dropped) → dataclass IR.
        """
        import yaml

        config_path = Path(config_path)
        if not config_path.is_file():
            raise FileNotFoundError(f"Cannot load missing configuration file {config_path.resolve()!s}!")
        if config_path.suffix != ".yaml":
            raise ValueError(
                f"Only supports reading from '.yaml'. Got: '{config_path.suffix}' in '{config_path.name}'."
            )
        loaded_dict = yaml.safe_load(config_path.read_text())

        overriding_predicates: dict = {}
        overriding_demographics: dict = {}
        if predicates_path:
            predicates_path = Path(predicates_path)
            if not predicates_path.is_file():
                raise FileNotFoundError(
                    f"Cannot load missing predicates file {predicates_path.resolve()!s}!"
                )
            if predicates_path.suffix != ".yaml":
                raise ValueError(
                    f"Only supports reading from '.yaml'. Got: '{predicates_path.suffix}' in "
                    f"'{predicates_path.name}'."
                )
            predicates_dict = yaml.safe_load(predicates_path.read_text())
            predicates_dict.pop("description", None)
            predicates_dict.pop("metadata", None)
            overriding_predicates = predicates_dict.pop("predicates", {})
            overriding_demographics = predicates_dict.pop("patient_demographics", {})
            if predicates_dict:
                raise ValueError(
                    f"Unrecognized keys in configuration file: '{', '.join(predicates_dict.keys())}'"
                )

        loaded_dict.pop("description", None)
        loaded_dict.pop("metadata", None)

        trigger = loaded_dict.pop("trigger")
        windows = loaded_dict.pop("windows", None)
        predicates = loaded_dict.pop("predicates", {})
        patient_demographics = loaded_dict.pop("patient_demographics", {})

        if loaded_dict:
            raise ValueError(f"Unrecognized keys in configuration file: '{', '.join(loaded_dict.keys())}'")

        final_predicates = {**predicates, **overriding_predicates}
        final_demographics = {**patient_demographics, **overriding_demographics}
        all_predicates = {**final_predicates, **final_demographics}

        if windows is None:
            windows = {}
        else:
            windows = {n: WindowConfig(**w) for n, w in windows.items()}

        trigger = EventConfig(trigger)

        # referenced-predicate closure (src/aces/config.py:1356-1396)
        referenced_predicates = {p for w in windows.values() for p in w.referenced_predicates}
        referenced_predicates.add(trigger.predicate)
        label_reference = [w.label for w in windows.values() if w.label]
        referenced_predicates.update(label_reference)

        special_predicates = {ANY_EVENT_COLUMN, START_OF_RECORD_KEY, END_OF_RECORD_KEY}
        for pred in set(referenced_predicates) - special_predicates:
            if pred not in all_predicates:
                raise KeyError(
                    f"Something referenced predicate '{pred}' that wasn't defined in the configuration."
                )
            if "expr" in all_predicates[pred]:
                stack = list(DerivedPredicateConfig(**all_predicates[pred]).input_predicates)
                while stack:
                    nested = stack.pop()
                    if nested not in all_predicates:
                        raise KeyError(
                            f"Predicate '{nested}' referenced in '{pred}' is not defined in the "
                            "configuration."
                        )
                    if "expr" in all_predicates[nested]:
                        stack.extend(DerivedPredicateConfig(**all_predicates[nested]).input_predicates)
                    referenced_predicates.add(nested)

        predicates_to_parse = {k: v for k, v in final_predicates.items() if k in referenced_predicates}
        predicate_objs: dict[str, PlainPredicateConfig | DerivedPredicateConfig] = {}
        for n, p in predicates_to_parse.items():
            if "expr" in p:
                predicate_objs[n] = DerivedPredicateConfig(**p)
            else:
                if isinstance(p, str):
                    raise ValueError(
                        f"Predicate '{n}' is not defined correctly in the configuration file. "
                        f"Currently defined as the string: {p}. "
                        "Please refer to the documentation for the supported formats."
                    )
                config_data = {k: v for k, v in p.items() if k in PlainPredicateConfig.__dataclass_fields__}
                other_cols = {k: v for k, v in p.items() if k not in config_data}
                predicate_objs[n] = PlainPredicateConfig(**config_data, other_cols=other_cols)

        if final_demographics:
            demographic_objs = {
                n: PlainPredicateConfig(**p, static=True) for n, p in final_demographics.items()
            }
            predicate_objs.update(demographic_objs)

        return cls(predicates=predicate_objs, trigger=trigger, windows=windows)

    def _initialize_predicates(self) -> None:
        """Validate predicate names, build the derived-predicate DAG, and
        check acyclicity (reference ``src/aces/config.py:1421-1482``)."""
        dag_relationships = []
        for name, predicate in self.predicates.items():
            if re.match(r"^\w+$", name) is None:
                raise ValueError(
                    f"Predicate name '{name}' is invalid; must be composed of alphanumeric or "
                    "'_' characters."
                )
            if isinstance(predicate, PlainPredicateConfig):
                pass
            elif isinstance(predicate, DerivedPredicateConfig):
                for pred in predicate.input_predicates:
                    dag_relationships.append((pred, name))
            else:
                raise ValueError(
                    f"Invalid predicate configuration for '{name}': {predicate}. "
                    "Must be either a PlainPredicateConfig or DerivedPredicateConfig object. "
                    f"Got: {type(predicate)}"
                )

        missing = []
        for parent, child in dag_relationships:
            if parent not in self.predicates:
                missing.append(f"Derived predicate '{child}' references undefined predicate '{parent}'")
        if missing:
            raise KeyError(f"Missing {len(missing)} relationships: " + "; ".join(missing))

        self._predicate_dag_graph = nx.DiGraph(dag_relationships)
        if not nx.is_directed_acyclic_graph(self._predicate_dag_graph):
            raise ValueError(
                "Predicate graph is not a directed acyclic graph!\n"
                f"Cycle found: {nx.find_cycle(self._predicate_dag_graph)}"
            )

    def _initialize_windows(self) -> None:
        """Validate windows; build the window tree with one node per window
        boundary; splice out no-op nodes (reference
        ``src/aces/config.py:1484-1666``)."""
        for name in self.windows:
            if re.match(r"^\w+$", name) is None:
                raise ValueError(
                    f"Window name '{name}' is invalid; must be composed of alphanumeric or '_' characters."
                )

        label_windows = []
        index_timestamp_windows = []
        for name, window in self.windows.items():
            if window.label:
                if window.label not in self.predicates:
                    raise ValueError(
                        f"Label must be one of the defined predicates. Got: {window.label} "
                        f"for window '{name}'"
                    )
                label_windows.append(name)
            if window.index_timestamp:
                if window.index_timestamp not in {"start", "end"}:
                    raise ValueError(
                        "Index timestamp must be either 'start' or 'end'. "
                        f"Got: {window.index_timestamp} for window '{name}'"
                    )
                index_timestamp_windows.append(name)
        if len(label_windows) > 1:
            raise ValueError(
                f"Only one window can be labeled, found {len(label_windows)} labeled windows: "
                f"{', '.join(label_windows)}"
            )
        if len(index_timestamp_windows) > 1:
            raise ValueError(
                f"Only the 'start'/'end' of one window can be used as the index timestamp, "
                f"found {len(index_timestamp_windows)}: {', '.join(index_timestamp_windows)}"
            )
        self.label_window = label_windows[0] if label_windows else None
        self.index_timestamp_window = index_timestamp_windows[0] if index_timestamp_windows else None

        trigger_node = Node("trigger", endpoint_expr=None, constraints={})
        window_nodes: dict[str, Node] = {"trigger": trigger_node}
        for name, window in self.windows.items():
            start_node = Node(f"{name}.start", endpoint_expr=window.start_endpoint_expr)
            end_node = Node(f"{name}.end", endpoint_expr=window.end_endpoint_expr)

            # the non-root node carries this window's constraints; the root
            # node bounds an unconstrained connecting window
            # (src/aces/config.py:1581-1596)
            if window.root_node == "end":
                end_node.constraints = {}
                start_node.constraints = window.has
                start_node.parent = end_node
            else:
                end_node.constraints = window.has
                start_node.constraints = {}
                end_node.parent = start_node

            window_nodes[f"{name}.start"] = start_node
            window_nodes[f"{name}.end"] = end_node

        for name, window in self.windows.items():
            for predicate in window.referenced_predicates - {ANY_EVENT_COLUMN}:
                if predicate not in self.predicates:
                    raise KeyError(
                        f"Window '{name}' references undefined predicate '{predicate}'. "
                        f"Window predicates: {', '.join(window.referenced_predicates)}; "
                        f"Defined predicates: {', '.join(self.predicates.keys())}"
                    )

            if len(window.referenced_event) == 1:
                event = window.referenced_event[0]
                if event != "trigger":
                    raise KeyError(
                        f"Window '{name}' references undefined trigger event '{event}' -- must be trigger!"
                    )
                window_nodes[f"{name}.{window.root_node}"].parent = window_nodes[event]
            elif len(window.referenced_event) == 2:
                referenced_window, referenced_event = window.referenced_event
                if referenced_window not in self.windows:
                    raise KeyError(
                        f"Window '{name}' references undefined window '{referenced_window}' "
                        f"for event '{referenced_event}'. Allowed windows: {', '.join(self.windows.keys())}"
                    )
                parent_node = f"{referenced_window}.{referenced_event}"
                window_nodes[f"{name}.{window.root_node}"].parent = window_nodes[parent_node]
            else:
                raise ValueError(
                    f"Window '{name}' references invalid event '{window.referenced_event}' "
                    "must be of length 1 or 2."
                )

        # splice out no-op nodes (endpoint_expr None): children reattach to
        # the node's parent (src/aces/config.py:1642-1664)
        nodes_to_remove = [
            n for n, node in window_nodes.items() if n != "trigger" and node.endpoint_expr is None
        ]
        for node_name in nodes_to_remove:
            node = window_nodes[node_name]
            parent = node.parent
            for child in list(node.children):
                child.parent = parent
            if parent is not None:
                parent.children = [c for c in parent.children if c.name != node_name]
            del window_nodes[node_name]

        self.window_nodes = window_nodes

    def __post_init__(self) -> None:
        self._initialize_predicates()
        self._initialize_windows()

    @property
    def window_tree(self) -> Node:
        return self.window_nodes["trigger"]

    @property
    def predicates_DAG(self) -> nx.DiGraph:
        return self._predicate_dag_graph

    @property
    def plain_predicates(self) -> dict[str, PlainPredicateConfig]:
        return {p: cfg for p, cfg in self.predicates.items() if cfg.is_plain}

    @property
    def reads_every_event(self) -> bool:
        """Whether an event that matches no plain predicate can change this
        task's output. Such an event adds 0 to every count and is never a
        trigger or a boundary, so it matters only where the task reads row
        existence:

        * the trigger, a ``has:`` key or an event bound names
          ``_ANY_EVENT`` (``*``), ``_RECORD_START`` or ``_RECORD_END``
          (a ``NULL`` window start or end is an event bound on the record
          start or end: the subject's first or last event of any kind);
        * a derived predicate reads a static one, whose per-subject
          broadcast makes it non-zero on rows where no plain predicate is.

        When it is false, the MEDS and direct loaders drop those events
        before the subject exchange."""
        special = {ANY_EVENT_COLUMN, START_OF_RECORD_KEY, END_OF_RECORD_KEY, "*"}
        if self.trigger.predicate in special:
            return True
        for w in self.windows.values():
            bounds = (w.start_endpoint_expr, w.end_endpoint_expr)
            events = {b.end_event.lstrip("-") for b in bounds if isinstance(b, ToEventWindowBounds)}
            if special & (set(w.has or ()) | events):
                return True
        static = {p for p, c in self.plain_predicates.items() if c.static}
        return any(static & set(d.input_predicates) for d in self.derived_predicates.values())

    @property
    def derived_predicates(self) -> dict[str, DerivedPredicateConfig]:
        """Derived predicates in topological order so nested derived
        predicates resolve correctly (src/aces/config.py:1686-1692)."""
        return {
            p: self.predicates[p]
            for p in nx.topological_sort(self.predicates_DAG)
            if not self.predicates[p].is_plain
        }
