"""Pipeline spec dataclasses + v3-JSON parser.

Wire-compatible with the reference's external pipeline format
(glassflow-api/internal/api/pipeline.go:199-330): ``{version:"v3",
pipeline_id, name, sources[], transforms[], join?, sink}``. Resource
sizing blocks are accepted and ignored — Spark owns physical placement.

Validation mirrors the reference's constructors
(glassflow-api/internal/models/configs.go): join requires exactly two
sources and type 'temporal'; transform stage order is fixed
filter -> dedup -> stateless (cmd/glassflow/dedup_component.go:210-225).
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field as dc_field
from typing import Any, Optional

from .types import normalize_source_type, parse_duration_seconds


class SpecError(ValueError):
    pass


@dataclass(frozen=True)
class Field:
    name: str
    type: str  # basic source type (normalized)


@dataclass(frozen=True)
class DedupConfig:
    key: str  # dot-path capable id field
    time_window_s: float  # seconds


@dataclass(frozen=True)
class FilterConfig:
    expression: str


@dataclass(frozen=True)
class TransformOutput:
    expression: str
    output_name: str
    output_type: str  # string|int|int64|float64|bool|[]string


@dataclass(frozen=True)
class TransformConfig:
    outputs: tuple[TransformOutput, ...]


@dataclass(frozen=True)
class DataopConfig:
    """Beyond-reference spec extension: a declared training-data op
    (``{"type": "dataop", "config": {"op": <name>, ...params}}``).
    Op names are validated at parse time against
    ``plans.compiler.DATAOPS`` and run after the reference's fixed
    filter→dedup→transform chain, in declared order (batch: all ops;
    streaming: the ``STREAM_SAFE_DATAOPS`` subset, others raise)."""

    op: str
    params: dict[str, Any] = dc_field(default_factory=dict)


@dataclass(frozen=True)
class SourceConfig:
    source_id: str
    topic: str = ""
    schema_fields: tuple[Field, ...] = ()
    initial_offset: str = "earliest"  # earliest | latest
    # per-source transform chain, fixed order
    filter: Optional[FilterConfig] = None
    dedup: Optional[DedupConfig] = None
    transform: Optional[TransformConfig] = None
    dataops: tuple[DataopConfig, ...] = ()
    kafka_options: dict[str, str] = dc_field(default_factory=dict)


@dataclass(frozen=True)
class JoinSourceConfig:
    source_id: str
    key: str
    time_window_s: float
    orientation: str  # 'left' | 'right'


@dataclass(frozen=True)
class JoinOutputField:
    source_id: str
    name: str
    output_name: str


@dataclass(frozen=True)
class JoinConfig:
    left: JoinSourceConfig
    right: JoinSourceConfig
    output_fields: tuple[JoinOutputField, ...] = ()


@dataclass(frozen=True)
class SinkMapping:
    name: str  # source field (optionally 'source_id.field' post-join)
    column_name: str
    column_type: str  # ClickHouse type spelling
    source_id: str = ""


@dataclass(frozen=True)
class SinkConfig:
    table: str
    mapping: tuple[SinkMapping, ...]
    max_batch_size: int = 1000  # reference default, constants.go:238
    max_delay_time_s: float = 60.0
    connection: dict[str, Any] = dc_field(default_factory=dict)
    sink_type: str = "clickhouse"


@dataclass(frozen=True)
class PipelineSpec:
    pipeline_id: str
    name: str
    sources: tuple[SourceConfig, ...]
    join: Optional[JoinConfig]
    sink: SinkConfig

    def source(self, source_id: str) -> SourceConfig:
        for s in self.sources:
            if s.source_id == source_id:
                return s
        raise SpecError(f"unknown source_id {source_id!r}")


def _parse_transforms(transforms: list[dict], sources: dict[str, dict]) -> None:
    """Attach per-source transform configs; order within a source is fixed."""
    for t in transforms:
        ttype = t.get("type")
        sid = t.get("source_id") or next(iter(sources))
        if sid not in sources:
            raise SpecError(f"transform references unknown source_id {sid!r}")
        cfg = t.get("config", {})
        slot = sources[sid]
        if ttype == "filter":
            expr = cfg.get("expression", "")
            if not expr:
                raise SpecError("filter transform requires config.expression")
            slot["filter"] = FilterConfig(expression=expr)
        elif ttype == "dedup":
            key = cfg.get("key") or cfg.get("id_field")
            if not key:
                raise SpecError("dedup transform requires config.key")
            slot["dedup"] = DedupConfig(
                key=key, time_window_s=parse_duration_seconds(cfg.get("time_window"))
            )
        elif ttype == "dataop":
            op = cfg.get("op", "")
            if not op:
                raise SpecError("dataop transform requires config.op")
            # fail at parse time, not first chain run (lazy import — the
            # compiler imports this module at load)
            from ..plans.compiler import DATAOPS, REQUIRED_DATAOP_PARAMS

            if op not in DATAOPS:
                raise SpecError(f"unknown dataop {op!r}; available: {sorted(DATAOPS)}")
            params = {k: v for k, v in cfg.items() if k != "op"}
            missing = [p for p in REQUIRED_DATAOP_PARAMS.get(op, ()) if p not in params]
            if missing:
                raise SpecError(
                    f"dataop {op!r} requires config params {missing} "
                    "(no usable default)"
                )
            slot["dataops"].append(DataopConfig(op=op, params=params))
        elif ttype in ("stateless", "transform"):
            outs = tuple(
                TransformOutput(
                    expression=o["expression"],
                    output_name=o["output_name"],
                    output_type=o.get("output_type", "string"),
                )
                for o in cfg.get("transforms", [])
            )
            if not outs:
                raise SpecError("stateless transform requires config.transforms[]")
            slot["transform"] = TransformConfig(outputs=outs)
        else:
            raise SpecError(f"unknown transform type {ttype!r}")


def parse_pipeline_json(doc: str | dict) -> PipelineSpec:
    """Parse the v3 JSON pipeline document into a validated spec."""
    if isinstance(doc, str):
        doc = json.loads(doc)
    version = doc.get("version", "v3")
    if version != "v3":
        raise SpecError(f"only v3 pipeline documents are supported, got {version!r}")

    raw_sources = doc.get("sources") or []
    if not raw_sources:
        raise SpecError("pipeline requires at least one source")

    slots: dict[str, dict] = {}
    for s in raw_sources:
        sid = s.get("source_id") or s.get("topic") or f"source_{len(slots)}"
        fields = tuple(
            Field(name=f["name"], type=normalize_source_type(f["type"]))
            for f in s.get("schema_fields", [])
        )
        slots[sid] = {
            "source_id": sid,
            "topic": s.get("topic", ""),
            "schema_fields": fields,
            "initial_offset": s.get("consumer_group_initial_offset", "earliest"),
            "filter": None,
            "dedup": None,
            "transform": None,
            "dataops": [],
            "kafka_options": _kafka_options(s.get("connection_params") or {}),
        }

    _parse_transforms(doc.get("transforms") or [], slots)

    join_cfg = None
    j = doc.get("join")
    # missing 'enabled' means DISABLED: the reference's Go unmarshal
    # zero-values Join.Enabled to false and gates on it everywhere —
    # a hand-authored doc omitting the key must behave identically
    if not (j and j.get("enabled", False)):
        if len(slots) != 1:
            # one source per sink path (SURVEY.md §2.8): without a join
            # the second source's rows would have nowhere to go
            raise SpecError(
                f"a pipeline without a join takes exactly 1 source, got {len(slots)}"
            )
    else:
        jtype = j.get("type", "temporal")
        if jtype != "temporal":
            raise SpecError(f"only temporal join is supported, got {jtype!r}")
        if len(slots) != 2:
            # MaxStreamsSupportedWithJoin = 2 (constants.go:214)
            raise SpecError(f"temporal join requires exactly 2 sources, got {len(slots)}")

        def _jsrc(d: dict, orientation: str) -> JoinSourceConfig:
            return JoinSourceConfig(
                source_id=d["source_id"],
                key=d["key"],
                time_window_s=parse_duration_seconds(d.get("time_window")),
                orientation=orientation,
            )

        join_cfg = JoinConfig(
            left=_jsrc(j["left_source"], "left"),
            right=_jsrc(j["right_source"], "right"),
            output_fields=tuple(
                JoinOutputField(
                    source_id=o["source_id"],
                    name=o["name"],
                    output_name=o.get("output_name") or o["name"],
                )
                for o in j.get("output_fields", [])
            ),
        )

    k = doc.get("sink") or {}
    mapping = tuple(
        SinkMapping(
            name=m.get("name") or m.get("field_name", ""),
            column_name=m["column_name"],
            column_type=m["column_type"],
            source_id=m.get("source_id", ""),
        )
        for m in k.get("mapping") or k.get("table_mapping") or []
    )
    sink_cfg = SinkConfig(
        table=k.get("table", ""),
        mapping=mapping,
        max_batch_size=int(k.get("max_batch_size") or 1000),
        max_delay_time_s=parse_duration_seconds(k.get("max_delay_time")) or 60.0,
        connection=k.get("connection_params") or {},
        sink_type=k.get("type", "clickhouse"),
    )

    sources = tuple(
        SourceConfig(
            source_id=v["source_id"],
            topic=v["topic"],
            schema_fields=v["schema_fields"],
            initial_offset=v["initial_offset"],
            filter=v["filter"],
            dedup=v["dedup"],
            transform=v["transform"],
            dataops=tuple(v["dataops"]),
            kafka_options=v["kafka_options"],
        )
        for v in slots.values()
    )
    return PipelineSpec(
        pipeline_id=doc.get("pipeline_id", ""),
        name=doc.get("name", ""),
        sources=sources,
        join=join_cfg,
        sink=sink_cfg,
    )


def _jaas_escape(v: str) -> str:
    """Escape a value for interpolation into a JAAS config line. A raw
    double quote or backslash in a credential would otherwise break the
    line — or inject directives (the reference passes credentials
    structurally to franz-go, so it has no such surface)."""
    return v.replace("\\", "\\\\").replace('"', '\\"')


def _kafka_options(conn: dict) -> dict[str, str]:
    """Reference Kafka connection params -> Spark Kafka source options.

    PLAIN / SCRAM-SHA-256 / SCRAM-SHA-512 / GSSAPI over SASL_PLAINTEXT
    or SASL_SSL (reference: glassflow-api/internal/kafka/
    consumer.go:140-205, models/configs.go:166-186).

    GSSAPI: the reference receives the keytab as base64 content and the
    krb5.conf as inline text, materializing both to temp files
    (kafka/utils.go:9-46); the JVM-side equivalents are a
    Krb5LoginModule JAAS config pointing at the keytab plus the
    ``java.security.krb5.conf`` system property. The property can't be
    a Kafka option — it is returned under the ``jvm.`` prefix, which
    the streaming runner strips and applies via System.setProperty on
    the driver (a real multi-node cluster must additionally ship it in
    spark.executor.extraJavaOptions).
    """
    if not conn:
        return {}
    opts: dict[str, str] = {}
    brokers = conn.get("brokers") or []
    if brokers:
        opts["kafka.bootstrap.servers"] = ",".join(brokers)
    if conn.get("skip_auth"):
        return opts
    mech = (conn.get("mechanism") or "").upper().replace("_", "-")
    proto = conn.get("protocol") or ""
    user, pw = conn.get("username", ""), conn.get("password", "")
    if mech in ("PLAIN", "SCRAM-SHA-256", "SCRAM-SHA-512") and user:
        opts["kafka.security.protocol"] = proto.upper() or "SASL_SSL"
        opts["kafka.sasl.mechanism"] = mech
        module = (
            "org.apache.kafka.common.security.plain.PlainLoginModule"
            if mech == "PLAIN"
            else "org.apache.kafka.common.security.scram.ScramLoginModule"
        )
        opts["kafka.sasl.jaas.config"] = (
            f'{module} required username="{_jaas_escape(user)}" '
            f'password="{_jaas_escape(pw)}";'
        )
    elif mech == "GSSAPI":
        import base64
        import tempfile

        svc = (conn.get("kerberos_service_name") or "").strip()
        realm = (conn.get("kerberos_realm") or "").strip()
        keytab_b64 = (conn.get("kerberos_keytab") or "").strip()
        krb5_conf = (conn.get("kerberos_config") or "").strip()
        if not (svc and realm and keytab_b64 and krb5_conf):
            # models/configs.go:174-180 — all four fields required
            raise SpecError("Kerberos configuration fields cannot be empty")
        with tempfile.NamedTemporaryFile(
            prefix="keytab-", suffix=".keytab", delete=False
        ) as f:
            f.write(base64.b64decode(keytab_b64))
            keytab_path = f.name
        with tempfile.NamedTemporaryFile(
            mode="w", prefix="krb5-", suffix=".conf", delete=False
        ) as f:
            f.write(krb5_conf)
            krb5_path = f.name
        principal = user if "@" in user else f"{user}@{realm}"
        opts["kafka.security.protocol"] = proto.upper() or "SASL_SSL"
        opts["kafka.sasl.mechanism"] = "GSSAPI"
        opts["kafka.sasl.kerberos.service.name"] = svc
        opts["kafka.sasl.jaas.config"] = (
            "com.sun.security.auth.module.Krb5LoginModule required "
            f'useKeyTab=true storeKey=true keyTab="{_jaas_escape(keytab_path)}" '
            f'principal="{_jaas_escape(principal)}";'
        )
        opts["jvm.java.security.krb5.conf"] = krb5_path

    # TLS material: the reference builds a tls.Config from inline PEM
    # strings (kafka/consumer.go:200-212, MakeTLSConfigFromStrings);
    # the Kafka JVM client accepts the same PEM strings directly via
    # ssl.*.type=PEM (KIP-651) — no JKS files needed
    proto_upper = (opts.get("kafka.security.protocol") or proto.upper())
    if proto_upper in ("SSL", "SASL_SSL"):
        root_ca = conn.get("root_ca") or ""
        cert = conn.get("client_cert") or ""
        key = conn.get("client_key") or ""
        if root_ca:
            opts["kafka.ssl.truststore.type"] = "PEM"
            opts["kafka.ssl.truststore.certificates"] = root_ca
        if cert and key:
            opts["kafka.ssl.keystore.type"] = "PEM"
            opts["kafka.ssl.keystore.certificate.chain"] = cert
            opts["kafka.ssl.keystore.key"] = key
        if conn.get("skip_tls_verification"):
            # disable hostname verification (InsecureSkipVerify analog;
            # the JVM client has no full-chain skip, empty algorithm is
            # its documented hostname-check opt-out)
            opts["kafka.ssl.endpoint.identification.algorithm"] = ""
    return opts
