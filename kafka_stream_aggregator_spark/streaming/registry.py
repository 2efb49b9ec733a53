"""Mock Confluent Schema Registry + schema-id-dispatch Avro decoding.

The reference decodes every Kafka message by the schema id EMBEDDED in
its Confluent frame, resolving the writer schema from the registry at
decode time (consumer.rs:76-85 via EasyAvroDecoder; registration under
the topic-name subject strategy in producer.rs:43-47 and
registry_handler.rs:50-58), and the readme claims backward-compatible
evolution (readme.md:27-28). This module reproduces that contract
without a network registry:

* ``SchemaRegistry`` — in-memory registry: subjects, versioned schemas,
  global ids, dedup of re-registered identical schemas. A snapshot
  (plain ``{id: schema}`` dict) is what ships to executors — immutable,
  picklable, no live service dependency in the hot path.
* ``project_record`` — Avro schema RESOLUTION per the public spec
  (Apache Avro 1.11 "Schema Resolution"): writer fields the reader
  doesn't know are dropped; reader fields the writer didn't write take
  the reader default; numeric promotions int->long->float->double.
  It is the spec reference; the hot paths run ``compile_resolver``.
* ``compile_resolver`` — the same resolution compiled once per
  (writer, reader) pair into straight-line field readers that return a
  tuple in reader field order.
* ``FramedDecoder`` / ``decode_framed_records`` — decode of Confluent-
  framed payloads, dispatching each record on its own embedded schema
  id, so one topic may interleave records written under different
  schema versions (exactly what a rolling producer upgrade produces).

Spark integration is mapInPandas (Arrow-batched); the registry snapshot
rides the serialized closure once per task, like any broadcast dim, and
each task compiles one resolver per writer id it meets.
"""

from __future__ import annotations

import json
from functools import partial
from typing import Any, Callable, Iterable, Iterator

from .avro_codec import reader

MAGIC = 0x00

_NUMERIC_PROMOTIONS = {
    "int": {"int", "long", "float", "double"},
    "long": {"long", "float", "double"},
    "float": {"float", "double"},
    "double": {"double"},
}


def _canonical(schema: Any) -> str:
    """Stable fingerprint for dedup on re-registration."""
    return json.dumps(schema, sort_keys=True, separators=(",", ":"))


class SchemaRegistry:
    """In-memory Confluent-style registry (topic-name subject strategy).

    ids are global and monotonically increasing; registering a schema
    already present under the subject returns the existing id
    (Confluent semantics)."""

    def __init__(self) -> None:
        self._by_id: dict[int, Any] = {}
        self._subjects: dict[str, list[int]] = {}
        self._fingerprints: dict[tuple[str, str], int] = {}
        self._next_id = 1

    @staticmethod
    def subject_for_topic(topic: str) -> str:
        """TopicNameStrategy: value schemas live under '<topic>-value'
        (producer.rs:43-47)."""
        return f"{topic}-value"

    def register(self, subject: str, schema: Any) -> int:
        key = (subject, _canonical(schema))
        if key in self._fingerprints:
            return self._fingerprints[key]
        sid = self._next_id
        self._next_id += 1
        self._by_id[sid] = schema
        self._subjects.setdefault(subject, []).append(sid)
        self._fingerprints[key] = sid
        return sid

    def by_id(self, schema_id: int) -> Any:
        return self._by_id[schema_id]

    def latest(self, subject: str) -> tuple[int, Any]:
        sid = self._subjects[subject][-1]
        return sid, self._by_id[sid]

    def versions(self, subject: str) -> list[int]:
        return list(self._subjects.get(subject, []))

    def snapshot(self) -> dict[int, Any]:
        """Immutable {id: schema} map to ship to executors."""
        return dict(self._by_id)


def _type_name(schema: Any) -> str:
    if isinstance(schema, str):
        return schema
    if isinstance(schema, list):
        return "union"
    return schema["type"]


def _promote(value: Any, writer_t: str, reader_t: str) -> Any:
    if value is None or writer_t == reader_t:
        return value
    if reader_t in _NUMERIC_PROMOTIONS.get(writer_t, ()):  # int->long->float->double
        return float(value) if reader_t in ("float", "double") else int(value)
    if writer_t == "string" and reader_t == "bytes":
        return value.encode("utf-8")
    if writer_t == "bytes" and reader_t == "string":
        return value.decode("utf-8")
    # anything else (long->int, double->float, string->int, ...) is
    # outside the Avro 1.11 resolution table — surface it rather than
    # silently passing the value through unchanged.
    raise ValueError(
        f"writer type {writer_t!r} is not promotable to reader type "
        f"{reader_t!r} under Avro schema resolution"
    )


def _nullable(schema: Any) -> bool:
    return schema == "null" or (isinstance(schema, list) and "null" in schema)


def _non_null_branch(schema: Any) -> Any:
    if isinstance(schema, list):
        for b in schema:
            if b != "null":
                return b
        return "null"
    return schema


def _writer_null(name: str, reader_type: Any):
    raise ValueError(
        f"writer null for field {name!r} but reader type "
        f"{reader_type!r} does not admit null"
    )


def _no_default(name: str) -> ValueError:
    return ValueError(
        f"reader field {name!r} absent from writer schema and has "
        f"no default — schemas are not backward compatible"
    )


def project_record(
    record: dict[str, Any], writer_schema: Any, reader_schema: Any
) -> dict[str, Any]:
    """Schema resolution for records (Avro 1.11 spec): match fields by
    name; writer-only fields are skipped; reader-only fields MUST have a
    default; scalars follow the numeric/string-bytes promotion table."""
    writer_fields = {f["name"]: f for f in writer_schema["fields"]}
    out: dict[str, Any] = {}
    for rf in reader_schema["fields"]:
        name = rf["name"]
        if name in writer_fields:
            wt = _type_name(_non_null_branch(writer_fields[name]["type"]))
            rt = _type_name(_non_null_branch(rf["type"]))
            val = record[name]
            if val is None and not _nullable(rf["type"]):
                _writer_null(name, rf["type"])
            out[name] = _promote(val, wt, rt)
        elif "default" in rf:
            out[name] = rf["default"]
        else:
            raise _no_default(name)
    return out


def compile_resolver(
    writer_schema: Any, reader_schema: Any
) -> Callable[[bytes], tuple]:
    """``project_record(decode(writer, body)[0], writer, reader)`` as one
    function ``resolve(body)`` that returns the reader's fields as a
    tuple in reader order. It reads each writer field with a reader built
    for its type, then applies the same null check and promotion as
    ``project_record``, so it returns the same values and raises on the
    same records. A pair that cannot be resolved (a reader field with
    neither a writer field nor a default) compiles to a resolver that
    always raises."""
    writer_fields = writer_schema["fields"]
    position = {f["name"]: i for i, f in enumerate(writer_fields)}
    env: dict[str, Any] = {"_writer_null": _writer_null}
    lines = ["def resolve(buf):", "    pos = 0"]
    for i, wf in enumerate(writer_fields):
        env[f"r{i}"] = reader(wf["type"])
        lines.append(f"    v{i}, pos = r{i}(buf, pos)")
    out = []
    for j, rf in enumerate(reader_schema["fields"]):
        name = rf["name"]
        if name not in position:
            if "default" not in rf:
                error = _no_default(name)

                def unresolvable(buf: bytes) -> tuple:
                    raise error

                return unresolvable
            env[f"d{j}"] = rf["default"]
            out.append(f"d{j}")
            continue
        i = position[name]
        value = f"v{i}"
        if not _nullable(rf["type"]):
            env[f"t{j}"] = rf["type"]
            value = f"({value} if {value} is not None else _writer_null({name!r}, t{j}))"
        wt = _type_name(_non_null_branch(writer_fields[i]["type"]))
        rt = _type_name(_non_null_branch(rf["type"]))
        if wt != rt:
            env[f"p{j}"] = partial(_promote, writer_t=wt, reader_t=rt)
            value = f"p{j}({value})"
        out.append(value)
    lines.append(f"    return ({''.join(v + ', ' for v in out)})")
    exec("\n".join(lines), env)
    return env["resolve"]


def parse_frame(raw: bytes) -> tuple[int, bytes]:
    """Split a Confluent frame [0x00][schema_id int32 BE][body]."""
    if len(raw) < 5 or raw[0] != MAGIC:
        raise ValueError("not a Confluent-framed payload")
    return int.from_bytes(raw[1:5], "big"), raw[5:]


class FramedDecoder:
    """Decodes Confluent frames, each by ITS OWN embedded schema id, into
    tuples in ``fields`` order (the reader schema's). The resolver for a
    writer id is compiled on the first record that carries it."""

    def __init__(self, registry_snapshot: dict[int, Any], reader_schema: Any):
        self._snapshot = registry_snapshot
        self._reader_schema = reader_schema
        self._resolvers: dict[int, Callable[[bytes], tuple]] = {}
        self.fields = [f["name"] for f in reader_schema["fields"]]

    def decode(self, raw: bytes) -> tuple:
        sid, body = parse_frame(bytes(raw))
        resolve = self._resolvers.get(sid)
        if resolve is None:
            resolve = compile_resolver(self._snapshot[sid], self._reader_schema)
            self._resolvers[sid] = resolve
        return resolve(body)

    def rows(self, raws: Iterable[bytes], on_error: str = "drop") -> Iterator[tuple | None]:
        """One tuple per payload, or None for a dropped one.

        on_error='drop' mirrors the reference's malformed-record handling
        (decode errors drop the record but still advance offsets,
        consumer.rs:106-108); 'raise' for strict pipelines."""
        decode = self.decode
        for raw in raws:
            try:
                yield decode(raw)
            except Exception:
                if on_error == "raise":
                    raise
                yield None


def decode_framed_records(
    raws: Iterable[bytes],
    registry_snapshot: dict[int, Any],
    reader_schema: Any,
    on_error: str = "drop",
) -> list[dict[str, Any] | None]:
    """Decode framed payloads, each by ITS OWN embedded schema id, into
    reader-schema dicts (see ``FramedDecoder.rows`` for ``on_error``).
    Dropped records yield None so callers can count them."""
    decoder = FramedDecoder(registry_snapshot, reader_schema)
    names = decoder.fields
    return [
        None if row is None else dict(zip(names, row))
        for row in decoder.rows(raws, on_error)
    ]
