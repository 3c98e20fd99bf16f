"""Declarative dataflow spec: the engine's "query language".

Mirrors the reference's JSON metadata model one-to-one so any reference
``metadata.json`` loads unchanged:

- ``DataflowMetadata{dataflows}``            -> ``Dataflow.scala:3``
- ``Dataflow{name,sources,transformations,sinks}`` -> ``Dataflow.scala:5-8``
- ``DataflowSource{name,path,format}``       -> ``Dataflow.scala:10-12``
- ``DataflowTransformation{name,type,params}`` -> ``Dataflow.scala:14-16``
- ``params{input,validations?,addFields?}``  -> ``Dataflow.scala:18-20``
- ``DataflowSink{input,name,paths,format,saveMode}`` -> ``Dataflow.scala:28-32``

``STEP_PARAMS`` is the one list of step types: it maps each type name
to the frozen dataclass of its params. The reference has two
(``add_fields``, ``validate_fields``); the rest are engine extensions.

Parsing is plain-Python driver-side work (the reference uses lift-json,
``PipelineProcessor.scala:158-166``); no Spark involvement. It is
strict: unknown keys, missing, mistyped or out-of-range values, node
references to no earlier node and validation rules that are unknown or
have a bad argument (``RULE_ARGS``) all fail, together, in one
:class:`SpecError`. Keys starting with ``_`` are comments.

Documented deviation from the reference: ``params.input`` and
``sink.input`` are honored as real DAG edges by the executor, whereas
the reference hard-codes the pipeline order and ignores ``params.input``
(``PipelineProcessor.scala:24-39``; see SURVEY.md §1.4).
"""

from __future__ import annotations

import json
from dataclasses import MISSING, dataclass, field, fields, is_dataclass
from types import UnionType
from typing import Any, Callable, get_args, get_origin, get_type_hints

#: field metadata: the value names nodes, which must be built earlier
_NODE = {"node": True}
#: field metadata: a required list that may be empty
_MAY_BE_EMPTY = {"empty": True}
#: what Spark's ``DataFrameWriter.mode`` accepts, case-insensitively
SAVE_MODES = ("append", "overwrite", "ignore", "error", "errorifexists",
              "default")
#: a reader/writer option value; Spark renders non-strings as strings
OptionValue = str | int | float | bool


class SpecError(ValueError):
    """A dataflow spec that cannot run; ``problems`` lists every
    problem found in it, one line each."""

    def __init__(self, problems: list[str]):
        self.problems = problems
        super().__init__(f"{len(problems)} problem(s) in the dataflow spec:\n"
                         + "\n".join(f"- {p}" for p in problems))


@dataclass(frozen=True)
class Source:
    """One input: ``{name, path, format}`` (``Dataflow.scala:10-12``).

    ``path`` may contain globs and any Hadoop-FS scheme (local, hdfs://,
    s3a:// ...), exactly like the reference (``metadata.json:8``,
    ``metadata-hdfs.json:8``). ``options`` is an engine extension for
    reader options (header, schema, Kafka bootstrap servers...).
    """

    name: str
    path: str
    format: str = "parquet"
    options: dict[str, OptionValue] = field(default_factory=dict)
    schema: str | None = None  # optional DDL string; None = infer (reference default)
    # engine extension: True reads the path as a Structured Streaming
    # file source (micro-batched); downstream transformations are the
    # same DataFrame ops, sinks drain via foreachBatch
    streaming: bool = False


def _range(arg: str) -> tuple[float, float]:
    lo, _, hi = arg.partition(":")
    return float(lo), float(hi)


#: The validation rules: name -> None for a rule that takes no argument,
#: or the parse of the text after ``name:`` into the rule's arguments
#: (it raises ValueError on a bad one). ``parse_metadata`` checks every
#: rule against this table; ``transforms.validate_fields`` compiles the
#: arguments it returns.
RULE_ARGS: dict[str, Callable[[str], tuple] | None] = {
    # the reference's (PipelineProcessor.scala:58-59)
    "notEmpty": None,
    "notNull": None,
    # engine extensions
    "notBlank": None,
    "positive": None,
    "nonNegative": None,
    "unique": None,                               # dataset-level
    "matches": lambda arg: (arg,),                # matches:<regex>
    "oneOf": lambda arg: tuple(arg.split("|")),   # oneOf:a|b|c
    "inRange": _range,                            # inRange:<lo>:<hi>, inclusive
    "minLength": lambda arg: (int(arg),),         # minLength:<n>
    "maxLength": lambda arg: (int(arg),),         # maxLength:<n>
}


def rule_args(field: str, rule: str) -> tuple:
    """The arguments of validation ``rule`` (syntax ``name`` or
    ``name:arg``, see ``RULE_ARGS``) on ``field``; ValueError names a
    rule that is unknown or has a bad argument."""
    name, colon, arg = rule.partition(":")
    parse = RULE_ARGS.get(name)
    # a rule takes an argument exactly when it has a parse
    if name not in RULE_ARGS or bool(colon) != (parse is not None):
        known = [n if RULE_ARGS[n] is None else f"{n}:..." for n in RULE_ARGS]
        raise ValueError(f"unknown validation rule {rule!r} for field "
                         f"{field!r}; known: {known}")
    try:
        return parse(arg) if parse else ()
    except ValueError:
        raise ValueError(f"validation rule {rule!r} for field {field!r} "
                         "has a bad argument") from None


@dataclass(frozen=True)
class Validation:
    """``{field, validations:[rule...]}`` (``Dataflow.scala:22-23``).

    Rules: ``notEmpty`` | ``notNull`` (``PipelineProcessor.scala:58-59``)
    plus the engine extensions of ``RULE_ARGS``.
    """

    field: str
    validations: list[str]

    def _problems(self):
        for rule in self.validations:
            try:
                rule_args(self.field, rule)
            except ValueError as err:
                yield str(err)


@dataclass(frozen=True)
class AddField:
    """``{name, function}`` where function is ANY Spark SQL expression
    string, evaluated with ``F.expr`` (reference: ``expr(field.function)``
    at ``PipelineProcessor.scala:99``)."""

    name: str
    function: str


#: The one list of step types: type name -> the params class it takes,
#: filled by ``_step`` below. A params field without a default is
#: required, and must not be empty.
STEP_PARAMS: dict[str, type] = {}


def _step(*types: str):
    """Make the decorated class a frozen params dataclass of ``types``."""
    def register(cls: type) -> type:
        cls = dataclass(frozen=True, kw_only=True)(cls)
        STEP_PARAMS.update(dict.fromkeys(types, cls))
        return cls
    return register


@dataclass(frozen=True, kw_only=True)
class Params:
    """What every step takes: the node it reads. None reads the union of
    the flow's sources."""

    input: str | None = field(default=None, metadata=_NODE)


@_step("add_fields")
class AddFieldsParams(Params):
    addFields: list[AddField] = field(default_factory=list)


@_step("validate_fields")
class ValidateFieldsParams(Params):
    validations: list[Validation] = field(default_factory=list)


@_step("sql")
class SqlParams(Params):
    sql: str  # full SQL over the flow's nodes, each a temp view


@_step("filter")
class FilterParams(Params):
    expr: str  # predicate string


@_step("select", "drop", "dedup")
class ColumnsParams(Params):
    columns: list[str] = field(default_factory=list)  # dedup: none = whole row


@_step("sort")
class SortParams(ColumnsParams):
    columns: list[str]  # "-col" sorts descending


@_step("join")
class JoinParams(Params):
    right: str = field(metadata=_NODE)
    on: list[str] = field(default_factory=list)  # equi-join keys
    how: str = "inner"

    def _problems(self):
        # no 'on' would silently plan a cartesian product, a runaway
        # job at scale: cartesian intent must be explicit
        if not self.on and self.how != "cross":
            yield ("declares no join keys ('on'); set how='cross' to "
                   "request a cartesian product")


@_step("aggregate")
class AggregateParams(Params):
    groupBy: list[str] = field(default_factory=list)  # none = global
    aggregates: list[AddField]  # name + aggregate expression


@_step("union")
class UnionParams(Params):
    inputs: list[str] = field(default_factory=list, metadata=_NODE)


@_step("limit")
class LimitParams(Params):
    n: int

    def _problems(self):
        if self.n < 0:
            yield f"needs a non-negative 'n', got {self.n}"


@_step("rename")
class RenameParams(Params):
    mapping: dict[str, str]  # old -> new


@_step("window")
class WindowParams(Params):
    partitionBy: list[str] = field(default_factory=list)
    orderBy: list[str] = field(default_factory=list)  # "-col" = desc
    fields: list[AddField]  # name + window function expression


@_step("topk")
class TopKParams(Params):
    n: int
    orderBy: list[str]  # "-col" = desc
    partitionBy: list[str] = field(default_factory=list)  # none = global

    def _problems(self):
        if self.n <= 0:
            yield f"needs a positive 'n', got {self.n}"


@_step("fingerprint")
class TextParams(Params):
    idColumn: str  # a unique document id
    textColumn: str = "text"


@_step("dedup_near")
class DedupNearParams(TextParams):
    threshold: float = 0.5  # Jaccard cutoff
    # a key of operators.dedup.FAMILIES: "fast" (xxhash64, production)
    # or "md5" (portable hashes, oracle-provable)
    hashFamily: str = "fast"

    def _problems(self):
        if self.hashFamily not in ("fast", "md5"):
            yield f"hashFamily {self.hashFamily!r} is not 'fast' or 'md5'"


@_step("intersect", "except")
class SetOpParams(Params):
    right: str = field(metadata=_NODE)
    all: bool = False  # noqa: A003 - SQL ALL: keep duplicate multiplicity


@_step("watermark")
class WatermarkParams(Params):
    column: str  # event-time column
    delay: str   # e.g. "1 hour"


@dataclass(frozen=True)
class Transformation:
    """``{name, type, params}`` (``Dataflow.scala:14-16``); ``type`` is a
    key of ``STEP_PARAMS``, which picks the class of ``params``."""

    name: str
    type: str
    params: Params


def node_names(t: Transformation) -> tuple[str, ...]:
    """The nodes a step registers: its name, plus ``<name>_ok`` and
    ``<name>_ko`` for a validation split (the reference's implicit
    ``validation_ok``/``validation_ko`` tags, ``metadata.json:38``,
    ``:59``). The bare name is the valid split, for chaining."""
    if t.type == "validate_fields":
        return t.name, f"{t.name}_ok", f"{t.name}_ko"
    return (t.name,)


@dataclass(frozen=True)
class Sink:
    """``{input, name, paths, format, saveMode}`` (``Dataflow.scala:28-32``).

    The write path is ``<path>/<name>`` per configured path, exactly the
    reference layout (``PipelineProcessor.scala:128``). ``saveMode`` is
    case-insensitive, as Spark's ``DataFrameWriter.mode(String)`` accepts
    the reference's ``"OVERWRITE"`` (``metadata.json:56``).
    """

    input: str = field(metadata=_NODE)
    name: str
    paths: list[str]
    format: str = "parquet"
    saveMode: str = "append"
    options: dict[str, OptionValue] = field(default_factory=dict)
    partitionBy: list[str] = field(default_factory=list)  # engine extension: partitioned writes for scale

    def _problems(self):
        if self.saveMode.lower() not in SAVE_MODES:
            yield f"unknown saveMode {self.saveMode!r}; one of {SAVE_MODES}"
        if self.format.lower() == "upsert":
            for key in ("keys", "orderBy"):
                if not isinstance(self.options.get(key), str):
                    yield (f"an upsert sink needs option {key!r} "
                           "(comma-separated columns)")


@dataclass(frozen=True)
class Dataflow:
    name: str
    sources: list[Source]
    transformations: list[Transformation] = field(metadata=_MAY_BE_EMPTY)
    sinks: list[Sink] = field(metadata=_MAY_BE_EMPTY)


@dataclass(frozen=True)
class DataflowMetadata:
    dataflows: list[Dataflow] = field(default_factory=list)


def _item(where: str, i: int, raw: Any) -> str:
    """Where list item ``i`` is: by its name (and step type) when it
    has one, e.g. ``transformations[topk 'top10']``."""
    raw = raw if isinstance(raw, dict) else {}
    name, kind = raw.get("name"), raw.get("type")
    if not isinstance(name, str):
        return f"{where}[{i}]"
    return f"{where}[{kind + ' ' if isinstance(kind, str) else ''}{name!r}]"


def _value(hint: Any, value: Any, where: str, problems: list[str]) -> Any:
    """``value`` checked against the field type ``hint``; nested
    objects are parsed."""
    if is_dataclass(hint):
        return _parse(hint, value, where, problems)
    origin, args = get_origin(hint), get_args(hint)
    if origin is list and isinstance(value, list):
        return [_value(args[0], v, _item(where, i, v), problems)
                for i, v in enumerate(value)]
    if origin is dict and isinstance(value, dict):
        return {k: _value(args[1], v, f"{where}.{k}", problems)
                for k, v in value.items()}
    # a union takes any of its members; a list or dict takes nothing else
    choices = args if origin is UnionType else () if origin else (hint,)
    for t in choices:
        if t is float and type(value) is int:
            return float(value)
        if isinstance(value, t) and (t is bool or type(value) is not bool):
            return value
    name = hint.__name__ if isinstance(hint, type) else str(hint)
    problems.append(f"{where}: expected {name}, got {value!r}")
    return value


def _parse(cls: type, raw: Any, where: str, problems: list[str]) -> Any:
    """Build ``cls`` from the JSON object ``raw``, adding to ``problems``
    every unknown key and every missing, mistyped or out-of-range value.
    A class may check its values further with a ``_problems`` method,
    which runs only when its fields parsed cleanly."""
    if not isinstance(raw, dict):
        problems.append(f"{where}: expected an object, got {raw!r}")
        return None
    hints = get_type_hints(cls)
    if cls is Transformation:  # the step type picks the params class
        kind = raw.get("type")
        if kind not in STEP_PARAMS:
            problems.append(f"{where}: declares no type" if kind is None else
                            f"{where}: unknown step type {kind!r}; "
                            f"known: {sorted(STEP_PARAMS)}")
            return Transformation(raw.get("name"), kind, None)
        hints["params"] = STEP_PARAMS[kind]
        raw = {**raw, "params": raw.get("params") or {}}
    known = {f.name for f in fields(cls)}
    problems.extend(f"{where}: unknown key {key!r}" for key in raw
                    if key not in known and not str(key).startswith("_"))
    before = len(problems)
    kwargs = {}
    for f in fields(cls):
        required = f.default is MISSING and f.default_factory is MISSING
        value = raw.get(f.name)
        if value is not None:
            value = _value(hints[f.name], value, f"{where}.{f.name}", problems)
        if required and (value is None or (value in ("", [], {})
                                           and not f.metadata.get("empty"))):
            problems.append(f"{where}: declares no {f.name}")
        if value is not None or required:
            kwargs[f.name] = value
    obj = cls(**kwargs)
    if len(problems) == before and hasattr(obj, "_problems"):
        problems.extend(f"{where}: {p}" for p in obj._problems())
    return obj


def _check_nodes(flow: Dataflow, where: str, problems: list[str]) -> None:
    """Every node reference must name a source or a node an EARLIER step
    builds: steps build in order, and sinks read the finished nodes."""
    steps = [t for t in flow.transformations or ()
             if t is not None and isinstance(t.name, str)]
    known = {"__sources__", *(s.name for s in flow.sources or ()
                              if s is not None and isinstance(s.name, str))}
    later = {n for t in steps for n in node_names(t)}

    def check(obj, owner: str) -> None:
        for f in fields(obj):
            value = getattr(obj, f.name) if f.metadata.get("node") else None
            for ref in value if isinstance(value, list) else [value]:
                if not isinstance(ref, str) or ref in known:
                    continue
                problems.append(
                    f"{owner}: {f.name} names node {ref!r} before the step "
                    "that builds it" if ref in later else
                    f"{owner}: {f.name} names unknown node {ref!r}; "
                    f"known: {sorted(known)}")

    for t in steps:
        if t.params is not None:
            check(t.params, f"{where}.transformations[{t.type} {t.name!r}].params")
        known.update(node_names(t))
    for i, s in enumerate(flow.sinks or ()):
        if s is not None:
            check(s, _item(f"{where}.sinks", i, {"name": s.name}))


def parse_metadata(raw: dict[str, Any] | str) -> DataflowMetadata:
    """Deserialize a metadata dict / JSON string into the spec model.

    Equivalent of the reference's lift-json ``parse(...).extract``
    (``PipelineProcessor.scala:161-164``), but strict: it raises one
    :class:`SpecError` listing every problem in the spec (the reference
    throws opaque MappingExceptions, one at a time, or runs a bad spec).
    """
    if isinstance(raw, str):
        raw = json.loads(raw)
    problems: list[str] = []
    meta = _parse(DataflowMetadata, raw, "spec", problems)
    for i, flow in enumerate((meta.dataflows or ()) if meta else ()):
        if flow is not None:
            _check_nodes(flow, _item("spec.dataflows", i, {"name": flow.name}),
                         problems)
    if problems:
        raise SpecError(problems)
    return meta


def load_metadata(path: str) -> DataflowMetadata:
    """Read + deserialize a metadata JSON file
    (reference: ``readMetadata``, ``PipelineProcessor.scala:158-166``)."""
    with open(path, encoding="utf-8") as fh:
        return parse_metadata(json.load(fh))
