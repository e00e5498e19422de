"""Pipeline configuration model.

Mirrors the semantics of the reference's ``EventBusConfigurations``
(event_stream/configuration/bus.py:119-272) without pydantic:

- ``$VAR`` environment-variable substitution in string values
  (reference bus.py:158-170; missing variables are errors),
- fail-fast compile with ALL errors aggregated (reference bus.py:217-241
  collects handler import errors before raising),
- dynamic transform loading by ``{module_name, name}``
  (reference CodeDesignation, configuration/parts.py:174-181 →
  utilities/types.py:560-612), with import results cached,
- transform signature enforcement (reference enforce_handler,
  utilities/types.py:427-540): ``(DataFrame, **kwargs) -> DataFrame``.
"""

from __future__ import annotations

import importlib
import inspect
import json
import os
import re
from dataclasses import dataclass, field
from typing import Any, Callable

from pyspark.sql import DataFrame

_ENV_RE = re.compile(r"^\$(\w+)$")

_SINK_KINDS = ("parquet", "memory", "console", "noop")


class ConfigurationError(ValueError):
    """All validation problems, aggregated."""

    def __init__(self, errors: list[str]):
        self.errors = errors
        super().__init__("; ".join(errors))


def substitute_env(value: Any, errors: list[str], path: str = "$") -> Any:
    """Recursively replace whole-string ``$VAR`` values from the environment."""
    if isinstance(value, str):
        m = _ENV_RE.match(value)
        if m:
            var = m.group(1)
            if var not in os.environ:
                errors.append(f"{path}: environment variable ${var} is not set")
                return value
            return os.environ[var]
        return value
    if isinstance(value, dict):
        return {k: substitute_env(v, errors, f"{path}.{k}") for k, v in value.items()}
    if isinstance(value, list):
        return [substitute_env(v, errors, f"{path}[{i}]") for i, v in enumerate(value)]
    return value


class Secret:
    """Masked credential value (reference models secrets as pydantic
    ``SecretStr``: event_stream/messages/mixins.py:9-11, and carries SSL key
    material/passwords in configuration/ssl.py and configuration/redis.py).

    ``repr``/``str`` never reveal the value — so dataclass reprs, logs, and
    aggregated validation errors can't leak it — and
    ``get_secret_value()`` is the only way out. Values are $ENV-sourced
    through the same ``substitute_env`` pass as every other config string,
    then wrapped by the fields that declare themselves secret."""

    __slots__ = ("_value",)
    _MASK = "**********"

    def __init__(self, value: str) -> None:
        self._value = value

    def get_secret_value(self) -> str:
        return self._value

    def __repr__(self) -> str:
        return f"Secret('{self._MASK}')" if self._value else "Secret('')"

    def __str__(self) -> str:
        return self._MASK if self._value else ""

    def __eq__(self, other: object) -> bool:
        return isinstance(other, Secret) and other._value == self._value

    def __hash__(self) -> int:
        return hash(("Secret", self._value))


@dataclass(frozen=True)
class ConnectionConfig:
    """Source-connection settings with secret-typed credentials (reference
    configuration/redis.py host/port/password — password a SecretStr — and
    configuration/ssl.py key material). Spark analog: these feed source
    options for a live connector (e.g. Kafka SASL/SSL); the parquet fixture
    sources ignore them."""

    host: str | None = None
    port: int | None = None
    username: str | None = None
    password: Secret | None = None
    ssl_keyfile: str | None = None
    ssl_certfile: str | None = None
    ssl_key_password: Secret | None = None


_SECRET_CONN_FIELDS = ("password", "ssl_key_password")
_PLAIN_CONN_FIELDS = ("host", "username", "ssl_keyfile", "ssl_certfile")


def _parse_connection(
    conn_raw: dict, errors: list[str], path: str
) -> ConnectionConfig:
    """Build a ConnectionConfig, wrapping secret fields. Error messages name
    the field path only, never the value — a mistyped secret must not leak
    through the aggregated ConfigurationError."""
    known = set(_SECRET_CONN_FIELDS) | set(_PLAIN_CONN_FIELDS) | {"port"}
    for key in conn_raw:
        if key not in known:
            errors.append(f"{path}.{key}: unknown connection field")
    kwargs: dict[str, Any] = {}
    for name in _PLAIN_CONN_FIELDS:
        if conn_raw.get(name) is not None:
            kwargs[name] = str(conn_raw[name])
    for name in _SECRET_CONN_FIELDS:
        if conn_raw.get(name) is not None:
            kwargs[name] = Secret(str(conn_raw[name]))
    if conn_raw.get("port") is not None:
        try:
            kwargs["port"] = int(conn_raw["port"])
        except (TypeError, ValueError):
            errors.append(f"{path}.port: not an integer")
    return ConnectionConfig(**kwargs)


_transform_cache: dict[tuple[str, str], Callable] = {}


@dataclass(frozen=True)
class TransformRef:
    """{module_name, name} → callable, cached (reference get_code)."""

    module_name: str
    name: str

    def load(self) -> Callable[..., DataFrame]:
        key = (self.module_name, self.name)
        if key not in _transform_cache:
            module = importlib.import_module(self.module_name)
            fn = getattr(module, self.name, None)
            if fn is None:
                raise ImportError(f"{self.module_name} has no attribute {self.name!r}")
            _enforce_transform(fn, f"{self.module_name}.{self.name}")
            _transform_cache[key] = fn
        return _transform_cache[key]


def _enforce_transform(fn: Callable, label: str) -> None:
    """Signature check: first positional parameter is the batch DataFrame;
    extra parameters must be keyword-fillable (reference enforce_handler)."""
    if not callable(fn):
        raise TypeError(f"{label} is not callable")
    sig = inspect.signature(fn)
    params = list(sig.parameters.values())
    if not params:
        raise TypeError(f"{label} must accept a DataFrame as its first parameter")
    first = params[0]
    if first.kind not in (first.POSITIONAL_ONLY, first.POSITIONAL_OR_KEYWORD):
        raise TypeError(f"{label}: first parameter must be positional (the DataFrame)")
    ann = first.annotation
    if ann not in (inspect.Parameter.empty, DataFrame, "DataFrame"):
        raise TypeError(f"{label}: first parameter must be a DataFrame, not {ann}")
    for p in params[1:]:
        if p.kind in (p.POSITIONAL_ONLY,) and p.default is p.empty:
            raise TypeError(f"{label}: extra parameter {p.name!r} must be keyword-fillable")


@dataclass(frozen=True)
class SinkConfig:
    kind: str  # parquet | memory | console | noop
    target: str | None = None  # path (parquet) or query/table name (memory)
    mode: str = "append"


@dataclass(frozen=True)
class RouteConfig:
    """One route ≈ one HandlerGroup: event + aliases select messages
    (reference handles_event, configuration/group.py:17-18), the transform is
    the handler, the sink is where results/responses go."""

    name: str
    event: str
    aliases: tuple[str, ...] = ()
    transform: TransformRef | None = None
    kwargs: dict[str, Any] = field(default_factory=dict)
    sink: SinkConfig = field(default_factory=lambda: SinkConfig("noop"))

    @property
    def events(self) -> tuple[str, ...]:
        return (self.event, *self.aliases)


@dataclass(frozen=True)
class BusConfig:
    """One bus ≈ one stream scan fanned out to N routes (reference EventBus:
    one consumer-group read dispatching to per-event handler lists)."""

    name: str
    source_table: str | None = None  # catalog table name, or
    source_path: str | None = None  # explicit parquet path/dir
    routes: tuple[RouteConfig, ...] = ()
    connection: ConnectionConfig | None = None


@dataclass(frozen=True)
class EngineConfig:
    application_name: str
    application_instance: str
    busses: tuple[BusConfig, ...] = ()

    @classmethod
    def from_dict(cls, raw: dict) -> "EngineConfig":
        errors: list[str] = []
        raw = substitute_env(raw, errors)
        app = raw.get("application_name")
        inst = raw.get("application_instance")
        if not app:
            errors.append("$.application_name: required")
        if not inst:
            errors.append("$.application_instance: required")

        busses: list[BusConfig] = []
        for bi, bus_raw in enumerate(raw.get("busses", [])):
            bpath = f"$.busses[{bi}]"
            # Names key the compiled routes, the sinks run_batch picks and
            # the per-route checkpoint dirs: a duplicate would silently
            # replace its twin, so reject it.
            bus_name = bus_raw.get("name", f"bus{bi}")
            if any(b.name == bus_name for b in busses):
                errors.append(f"{bpath}.name: duplicate bus name {bus_name!r}")
            routes: list[RouteConfig] = []
            if not (bus_raw.get("source_table") or bus_raw.get("source_path")):
                errors.append(f"{bpath}: one of source_table/source_path is required")
            for ri, route_raw in enumerate(bus_raw.get("routes", [])):
                rpath = f"{bpath}.routes[{ri}]"
                route_name = route_raw.get("name", f"route{ri}")
                if any(r.name == route_name for r in routes):
                    errors.append(f"{rpath}.name: duplicate route name {route_name!r}")
                if not route_raw.get("event"):
                    errors.append(f"{rpath}.event: required")
                transform = None
                if "transform" in route_raw:
                    t = route_raw["transform"]
                    transform = TransformRef(t.get("module_name", ""), t.get("name", ""))
                    try:
                        transform.load()  # pre-flight import + signature check
                    except Exception as exc:  # noqa: BLE001
                        errors.append(f"{rpath}.transform: {exc}")
                sink_raw = route_raw.get("sink", {"kind": "noop"})
                if sink_raw.get("kind") not in _SINK_KINDS:
                    errors.append(
                        f"{rpath}.sink.kind: {sink_raw.get('kind')!r} not in {_SINK_KINDS}"
                    )
                if sink_raw.get("kind") in ("parquet", "memory") and not sink_raw.get("target"):
                    errors.append(f"{rpath}.sink.target: required for {sink_raw.get('kind')}")
                routes.append(
                    RouteConfig(
                        name=route_name,
                        event=route_raw.get("event", ""),
                        aliases=tuple(route_raw.get("aliases", [])),
                        transform=transform,
                        kwargs=route_raw.get("kwargs", {}),
                        sink=SinkConfig(
                            kind=sink_raw.get("kind", "noop"),
                            target=sink_raw.get("target"),
                            mode=sink_raw.get("mode", "append"),
                        ),
                    )
                )
            connection = None
            if "connection" in bus_raw:
                connection = _parse_connection(
                    bus_raw["connection"], errors, f"{bpath}.connection"
                )
            busses.append(
                BusConfig(
                    name=bus_name,
                    source_table=bus_raw.get("source_table"),
                    source_path=bus_raw.get("source_path"),
                    routes=tuple(routes),
                    connection=connection,
                )
            )
        if errors:
            raise ConfigurationError(errors)
        return cls(application_name=app, application_instance=inst, busses=tuple(busses))

    @classmethod
    def from_json_file(cls, path: str) -> "EngineConfig":
        with open(path) as f:
            return cls.from_dict(json.load(f))


def config_json_schema() -> dict:
    """JSON Schema for the raw EngineConfig document — the reference ships
    this for editor/CI tooling via pydantic's ``.schema()`` export
    (generate_schema.py:71-92 dumps ``EventBusConfigurations.schema()``).
    The dataclass model has no pydantic, so the schema is declared
    explicitly and kept honest by tests that validate it against
    ``from_dict``'s actual acceptance/rejection behavior.

    Secret-typed connection fields are marked ``writeOnly`` (the JSON
    Schema marker for write-only credentials): tooling may accept them in
    a config document but must never echo them back."""
    connection_props: dict[str, Any] = {
        name: {"type": "string"} for name in _PLAIN_CONN_FIELDS
    }
    connection_props["port"] = {"type": "integer"}
    for name in _SECRET_CONN_FIELDS:
        connection_props[name] = {"type": "string", "writeOnly": True}
    return {
        "$schema": "https://json-schema.org/draft/2020-12/schema",
        "title": "EngineConfig",
        "type": "object",
        "required": ["application_name", "application_instance"],
        "additionalProperties": False,
        "properties": {
            "application_name": {"type": "string", "minLength": 1},
            "application_instance": {"type": "string", "minLength": 1},
            "busses": {"type": "array", "items": {"$ref": "#/$defs/bus"}},
        },
        "$defs": {
            "bus": {
                "type": "object",
                "anyOf": [
                    {"required": ["source_table"]},
                    {"required": ["source_path"]},
                ],
                "properties": {
                    "name": {"type": "string"},
                    "source_table": {"type": "string"},
                    "source_path": {"type": "string"},
                    "routes": {"type": "array", "items": {"$ref": "#/$defs/route"}},
                    "connection": {"$ref": "#/$defs/connection"},
                },
            },
            "route": {
                "type": "object",
                "required": ["event"],
                "properties": {
                    "name": {"type": "string"},
                    "event": {"type": "string", "minLength": 1},
                    "aliases": {"type": "array", "items": {"type": "string"}},
                    "transform": {"$ref": "#/$defs/transform"},
                    "kwargs": {"type": "object"},
                    "sink": {"$ref": "#/$defs/sink"},
                },
            },
            "transform": {
                "type": "object",
                "required": ["module_name", "name"],
                "properties": {
                    "module_name": {"type": "string"},
                    "name": {"type": "string"},
                },
            },
            "sink": {
                "type": "object",
                "required": ["kind"],
                "properties": {
                    "kind": {"enum": list(_SINK_KINDS)},
                    "target": {"type": "string"},
                    "mode": {"type": "string"},
                },
            },
            "connection": {
                "type": "object",
                "additionalProperties": False,
                "properties": connection_props,
            },
        },
    }


def discover_routes(
    module_name: str,
    sink_kind: str = "noop",
    extra_modules: tuple[str, ...] = (),
) -> tuple[RouteConfig, ...]:
    """Handler auto-discovery (reference A26 create_master_handlers /
    get_master_functions, streams/handlers.py:57-90): reflect every public
    function of ``module_name`` (plus ``extra_modules``) whose signature is a
    valid transform, and build one route per function with event = function
    name. Non-conforming callables are skipped, exactly like the reference
    skips non-handler attributes."""
    routes: list[RouteConfig] = []
    for mod_name in (module_name, *extra_modules):
        module = importlib.import_module(mod_name)
        for name in sorted(dir(module)):
            if name.startswith("_"):
                continue
            fn = getattr(module, name)
            if not inspect.isfunction(fn) or fn.__module__ != module.__name__:
                continue
            try:
                _enforce_transform(fn, f"{mod_name}.{name}")
            except TypeError:
                continue
            routes.append(
                RouteConfig(
                    name=name,
                    event=name,
                    transform=TransformRef(mod_name, name),
                    sink=SinkConfig(sink_kind),
                )
            )
    return tuple(routes)


def generate_group_name(
    stream: str,
    application_name: str,
    route_name: str,
    instance: str | None = None,
    unique: bool = False,
) -> str:
    """Deterministic consumer-group naming (reference A28
    generate_group_name, configuration/communication.py:105-128):
    ``stream:app:route``, with the instance appended when ``unique``.

    Spark semantics: the group name keys the CHECKPOINT directory. A shared
    name = one checkpoint = instances compete for the data (work-sharing);
    a unique name = checkpoint per instance = every instance processes the
    whole stream (broadcast). Same dichotomy the reference implements with
    Redis consumer groups."""
    base = f"{stream}:{application_name}:{route_name}"
    if unique:
        if not instance:
            raise ValueError("unique=True requires an instance identifier")
        return f"{base}:{instance}"
    return base


def checkpoint_dir_for(
    root: str,
    stream: str,
    application_name: str,
    route_name: str,
    instance: str | None = None,
    unique: bool = False,
) -> str:
    """Checkpoint path for a route's streaming query, derived from the
    group name (colons → path separators)."""
    group = generate_group_name(stream, application_name, route_name, instance, unique)
    return os.path.join(root, *group.split(":"))
