"""Replicator specification DSL.

The reference declares each replicated stream as a ``Replicator::Base``
subclass: a remote key column, denormalized columns (each with a JSON
path, optional converter/defaulter), a timestamp column, and a
conditional-update expression (lib/webhookdb/replicator/base.rb:17,
lib/webhookdb/replicator/column.rb:273-509). Here that is a pair of
dataclasses compiled to native Spark Column expressions.

Envelope model (lib/webhookdb/replicator/webhook_request.rb): every
webhook arrives as ``{integration_opaque_id, service_name,
request_method, request_path, headers, body, received_at}``; the
replicator unwraps body → (resource, event) (base.rb:881-900) and shapes
one row per resource.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from webhookdb_spark.functions.converters import Converter
from webhookdb_spark.operators.util import memo_col
from webhookdb_spark.types import ColumnType, spark_type, validate_identifier

# ---------------------------------------------------------------------------
# Defaulters (column.rb:273-293)
# ---------------------------------------------------------------------------

def defaulter_now() -> Column:
    return F.current_timestamp()


def defaulter_false() -> Column:
    return F.lit(False)


def defaulter_uuid4() -> Column:
    return F.expr("uuid()")


def defaulter_uuid7() -> Column:
    """UUIDv7 (time-ordered): 48-bit unix millis, version 7, random
    tail — built from native expressions (column.rb:283 :uuid7)."""
    ts = F.lpad(F.lower(F.hex(F.unix_millis(F.current_timestamp()))), 12, "0")
    def rhex(bits: int, width: int) -> Column:
        return F.lpad(
            F.lower(F.hex((F.rand() * (1 << bits)).cast("long"))), width, "0"
        )
    variant = F.substring(F.lit("89ab"), (F.rand() * 4).cast("int") + 1, 1)
    return F.concat_ws(
        "-",
        F.substring(ts, 1, 8),
        F.substring(ts, 9, 4),
        F.concat(F.lit("7"), rhex(12, 3)),
        F.concat(variant, rhex(12, 3)),
        rhex(48, 12),
    )


# "sequence" is declared here but resolved at the DataFrame level (it
# needs per-integration persisted state, see operators/upsert.py);
# extraction leaves NULL for it.
SEQUENCE_DEFAULTER = "sequence"

DEFAULTERS: dict[str, Callable[[], Column]] = {
    "now": defaulter_now,
    "tofalse": defaulter_false,
    "uuid4": defaulter_uuid4,
    "uuid7": defaulter_uuid7,
}


def _json_path(data_key: str | list[str]) -> str:
    keys = [data_key] if isinstance(data_key, str) else list(data_key)
    # bracket-quote anything beyond [A-Za-z0-9_] (dots, spaces, colons —
    # e.g. the Atom "georss:point" key) so get_json_object parses it as
    # one field name
    import re

    return "$" + "".join(
        f"[{k}]"  # integer path element = array index (column.rb _dig
        # walks lists too — postmark_inbound_message_v1.rb's
        # ["ToFull", 0, "Email"])
        if isinstance(k, int)
        else (f".{k}" if re.fullmatch(r"\w+", k) else f"['{k}']")
        for k in keys
    )


@dataclass(frozen=True)
class Col:
    """One denormalized column (reference: Webhookdb::Replicator::Column).

    - ``data_key``: path into the resource JSON (string or list for
      nested walks — column.rb:457-509 ``_dig``). Defaults to ``name``.
    - ``event_key``: when the envelope carries an event wrapper, read
      from the event instead (column.rb:321-326).
    - ``optional``: missing key → NULL instead of a reject
      (column.rb:457-465).
    - ``skip_nil``: a NULL incoming value must not clobber the stored
      value (column.rb:362-366; MERGE set ``coalesce(s.col, t.col)``).
    - ``converter``/``defaulter``: see functions/converters.py.
    - ``index``: the reference creates a btree index (base.rb:531-555);
      Spark has no secondary indexes, so this is a sort/cluster-key hint
      recorded in the table layout (SURVEY §4).
    """

    name: str
    type: ColumnType
    data_key: str | list[str] | None = None
    event_key: str | list[str] | None = None
    optional: bool = False
    skip_nil: bool = False
    converter: Converter | None = None
    # Key into DEFAULTERS, or a callable ``(resource: Column) -> Column``
    # for from-resource-fields defaulters (the reference's IsomorphicProc
    # defaulters that read the payload, e.g. email_octopus_event_v1.rb's
    # BUILD_EVENT_MD5 compound key).
    defaulter: str | Callable[[Column], Column] | None = None
    index: bool = False
    backfill_expr: Callable[[Column], Column] | None = None
    # dig data_key from the enrichment body instead of the resource
    # (column.rb:328-335 from_enrichment)
    from_enrichment: bool = False

    def __post_init__(self):
        validate_identifier(self.name, "column")

    def extraction_expr(
        self,
        body: Column,
        event_body: Column | None = None,
        enrichment: Column | None = None,
        body_variant: Column | None = None,
        event_variant: Column | None = None,
    ) -> Column:
        """Compile to a Column over the raw JSON body (to_sql_expr parity,
        column.rb:421-455): dig → converter → cast, then defaulter.

        ``body_variant``, when given, is ``try_parse_json(body)`` bound
        once for the whole projection: the dig becomes a
        ``try_variant_get`` over the SHARED parsed value instead of a
        per-column ``get_json_object`` re-parse of the body string —
        measured 2.3× faster on a 12-field body at sf0.1 (ABBENCH_r06
        §4). ``event_variant`` is the same parse-once binding for the
        EVENT envelope (stripe-style wrappers,
        stripe_charge_v1.rb:48-55): event_key digs share it instead of
        re-parsing the event JSON per column. String-cast parity
        caveat: a variant round-trips numbers through their typed
        value, so a number written in scientific notation ("1E2") digs
        as "100.0" where get_json_object keeps the raw text — no API
        in the replicator registry emits that, and the cross-engine
        parity tests pin the registry's real payload shapes."""
        path = _json_path(self.data_key or self.name)
        if self.from_enrichment:
            if enrichment is None:
                raise ValueError(
                    f"column {self.name!r} is from_enrichment but the spec"
                    " has no enrichment_fetcher"
                )
            resource_raw = F.get_json_object(enrichment, path)
        elif body_variant is not None:
            resource_raw = F.try_variant_get(body_variant, path, "string")
        else:
            resource_raw = F.get_json_object(body, path)
        if self.event_key is not None and event_body is not None:
            epath = _json_path(self.event_key)
            if event_variant is not None:
                event_raw = F.try_variant_get(event_variant, epath, "string")
            else:
                event_raw = F.get_json_object(event_body, epath)
            raw = F.coalesce(event_raw, resource_raw)
        else:
            raw = resource_raw
        out = self.converter.spark(raw) if self.converter else raw
        target = spark_type(self.type)
        if self.converter is None and isinstance(target, T.ArrayType):
            if (
                body_variant is not None
                and not self.from_enrichment
                and self.event_key is None
            ):
                # a variant->string cast of an array is not the JSON
                # text from_json expects; dig the typed array directly
                out = F.try_variant_get(
                    body_variant, path, target.simpleString()
                )
            elif (
                body_variant is not None
                and event_variant is not None
                and not self.from_enrichment
                and self.event_key is not None
            ):
                # same typed dig with the event-over-resource
                # precedence (column.rb:321-326)
                out = F.coalesce(
                    F.try_variant_get(
                        event_variant,
                        _json_path(self.event_key),
                        target.simpleString(),
                    ),
                    F.try_variant_get(
                        body_variant, path, target.simpleString()
                    ),
                )
            else:
                # JSON arrays come back from get_json_object as JSON
                # text; parse rather than cast.
                out = F.from_json(out, target)
        else:
            out = out.try_cast(target.simpleString())
        if callable(self.defaulter):
            out = F.coalesce(out, self.defaulter(body).cast(spark_type(self.type)))
        elif self.defaulter and self.defaulter != SEQUENCE_DEFAULTER:
            out = F.coalesce(out, DEFAULTERS[self.defaulter]().cast(spark_type(self.type)))
        return out.alias(self.name)


UpdateWhere = Callable[[Callable[[str], Column], Callable[[str], Column]], Column]


def _attach_enrichment(envelopes: DataFrame, fetcher) -> DataFrame:
    """Run the enrichment fetcher per resource, executor-side in Arrow
    batches, appending ``_enrichment`` (JSON string or NULL). The
    fetcher ships with the closure; in production it is the per-row
    API call (batch/rate-limit inside it — base.rb:849-859)."""
    import json as _json

    from pyspark.sql import types as _T

    schema = _T.StructType(
        list(envelopes.schema.fields) + [_T.StructField("_enrichment", _T.StringType())]
    )

    def run(batches):
        import pandas as pd

        for pdf in batches:
            vals = []
            for res in pdf["_resource"]:
                if res is None:
                    vals.append(None)
                    continue
                enr = fetcher(_json.loads(res))
                vals.append(None if enr is None else _json.dumps(enr))
            out = pdf.copy()
            out["_enrichment"] = pd.Series(vals, index=pdf.index, dtype="object")
            yield out

    return envelopes.mapInPandas(run, schema=schema)


@dataclass(frozen=True, eq=False)
class ReplicatorSpec:
    """A stream definition (reference: Replicator::Base subclass).

    ``update_where(s, t)`` receives two resolvers (source/"excluded" and
    target) and returns the boolean MERGE condition — the reference's
    ``_update_where_expr`` (base.rb:861-879), e.g.
    ``lambda s, t: s("updated") > t("updated")``.
    """

    name: str
    table: str
    remote_key: Col
    denorm_cols: tuple[Col, ...]
    timestamp_col: str | None = None
    update_where: UpdateWhere | None = None
    # Insert-only columns: keep first-written value on update
    # (base.rb:958-974 _coalesce_excluded_on_update).
    coalesce_on_update: tuple[str, ...] = ()
    # jsonb-concat on update: ``data = t.data || excluded.data``
    # (base.rb:948-949) — shallow key merge, incoming keys win.
    merge_data_on_update: bool = False
    # Per-column custom MERGE set expressions (the _upsert_update_expr
    # override, base.rb:931-956): column name → callable(s, t) -> Column
    # where s/t resolve source ("excluded") and target columns. E.g.
    # convertkit_subscriber_v1.rb:150-158 sets canceled_at
    # unconditionally when state is active, else keeps the first value.
    custom_update_exprs: dict[str, UpdateWhere] = field(default_factory=dict)
    # Hash partitioning (partitionable_mixin.rb): column receiving
    # str2inthash(partition_key_source), used for bucket routing.
    partition_column: str | None = None
    partition_key_source: str | None = None
    n_buckets: int = 16
    # Unwrap body → resource/event JSON strings. Default: body is the
    # resource, no event. Returns (resource_col, event_col|None).
    resource_and_event: Callable[[Column], tuple[Column, Column | None]] | None = None
    # When the resource carries its own raw-payload field (the
    # _resource_to_data hook, base.rb:744-760 — e.g. icalendar rows are
    # pre-shaped and embed `data`), name it here; `data` is read from
    # that key instead of storing the whole resource.
    data_key: str | None = None
    # Custom per-row shaping hook applied after extraction
    # (base.rb _prepare_for_insert analog).
    prepare_hook: Callable[[DataFrame], DataFrame] | None = None
    # Per-resource enrichment fetch (base.rb:849-859 _fetch_enrichment):
    # a Python callable dict→dict|None run executor-side in Arrow
    # batches BEFORE extraction; from_enrichment columns dig into its
    # result. In production this is the per-row API call — batch it /
    # rate-limit it inside the callable.
    enrichment_fetcher: Callable[[dict], dict | None] | None = None
    # Keep the enrichment body in an `enrichment` column
    # (base.rb:338-342 _store_enrichment_body?).
    store_enrichment_body: bool = False
    # The enrichment IS the resource when present (the Increase mixin's
    # _prepare_for_insert: an event envelope is swapped for the fetched
    # resource, increase_v1_mixin.rb:33-58).
    enrichment_replaces_resource: bool = False
    # One webhook body may be a JSON ARRAY of resources (base.rb:747-760
    # list handling; email_octopus_event_v1.rb:55-80): explode each
    # element into its own envelope row before extraction.
    explode_body_array: bool = False
    # Auth-only stub integration: owns no data table; upserting raises
    # (front_marketplace_root_v1.rb:29-31 — "a stub integration only for
    # auth purposes"). Installing one materializes its dependents.
    auth_only: bool = False
    # Dependent integrations an installer creates alongside this spec
    # (the build_dependents hook, front_marketplace_root_v1.rb:34-47).
    creates_dependents: tuple[str, ...] = ()
    # Descriptor backfillability (replicator.rb:99,140): webhook-only
    # streams refuse manual backfill (base.rb:1105) with the message
    # below. Matches the reference descriptor's FAIL-CLOSED default
    # (api_backfillable defaults false; services opt in) — a spec that
    # forgets the flag refuses backfill with the reference's message
    # instead of silently running one. The registry's split is pinned
    # by EXACT equality on both sides in tests/test_backfill_sync.py —
    # update that list from the reference descriptors when porting.
    supports_backfill: bool = False
    # Used by the default not-supported message (base.rb:279-289).
    documentation_url: str | None = None
    # Custom override (the backfill_not_supported_message override,
    # e.g. icalendar_event_v1.rb:376-382, postmark_*_v1.rb).
    backfill_not_supported: str | None = None

    def __post_init__(self):
        validate_identifier(self.table, "table")

    def backfill_not_supported_message(self) -> str:
        """base.rb:277-290: the CLI message when manual backfill is
        refused — custom override, else the documentation_url form,
        else the reset-command fallback."""
        if self.backfill_not_supported is not None:
            return self.backfill_not_supported
        if not self.documentation_url:
            return (
                "Sorry, you cannot backfill this integration. "
                "You may be looking for one of the following:\n\n"
                f"  webhookdb integrations reset {self.table}\n      "
            )
        return (
            "Sorry, you cannot manually backfill this integration.\n"
            f"Please refer to the documentation at {self.documentation_url}\n"
            "for information on how to refresh data."
        )

    @property
    def all_cols(self) -> tuple[Col, ...]:
        return (self.remote_key, *self.denorm_cols)

    def schema(self) -> T.StructType:
        fields = [T.StructField(c.name, spark_type(c.type)) for c in self.all_cols]
        if self.store_enrichment_body:
            # enrichment sits between denorm cols and data
            # (base.rb:441-465 column order)
            fields.append(T.StructField("enrichment", T.StringType()))
        fields.append(T.StructField("data", T.StringType()))
        return T.StructType(fields)

    def _build_shape_exprs(
        self,
        body_col: str,
        engine: str,
        has_received_at: bool,
        has_seq: bool,
    ) -> tuple[Column, Column, Column | None, list[Column]]:
        """(resource0, resource1, event0, cols) for :meth:`shape`.

        ``resource0``/``event0`` are the raw unwrap expressions over the
        body column (what the enrichment/variant materialization steps
        stamp); ``resource1`` is the post-enrichment resource expression
        the variant bind parses; ``cols`` is the full typed extraction
        projection, referencing only stable column names (``_rsrc``/
        ``_rv``/``_evt``/``_evv``/``_resource``/``_enrichment`` or the
        body column itself). All are immutable expression trees — shape()
        memoizes this per (body_col, engine, flags)."""
        body = F.col(body_col)
        if self.resource_and_event is not None:
            resource, event = self.resource_and_event(body)
        else:
            resource, event = body, None
        resource0, event0 = resource, event

        enrichment = None
        if self.enrichment_fetcher is not None:
            # extraction reads the materialized resource/enrichment
            resource = F.col("_resource")
            enrichment = F.col("_enrichment")
            if self.enrichment_replaces_resource:
                # increase_v1_mixin.rb:55-58 — the fetched resource
                # replaces an event envelope; `data` follows suit.
                resource = F.coalesce(enrichment, resource)
        resource1 = resource

        body_variant = None
        event_variant = None
        if engine == "variant":
            resource = F.col("_rsrc")
            body_variant = F.col("_rv")
            if event is not None:
                event = F.col("_evt")
                event_variant = F.col("_evv")
        cols = [
            c.extraction_expr(
                resource, event, enrichment, body_variant, event_variant
            )
            for c in self.all_cols
        ]
        if self.store_enrichment_body:
            cols.append(enrichment.alias("enrichment"))
        # `data` keeps the full raw resource payload (base.rb:456-458);
        # canonicalized lazily on compare (functions/converters.py).
        if self.data_key is not None:
            cols.append(
                F.get_json_object(resource, f"$.{self.data_key}").alias("data")
            )
        else:
            cols.append(resource.alias("data"))
        if has_received_at:
            cols.append(F.col("received_at").alias("_received_at"))
        else:
            cols.append(F.current_timestamp().alias("_received_at"))
        if has_seq:
            # arrival ordinal — the intra-batch last-wins tiebreaker
            # (page order in the reference's hash overwrite,
            # backfiller.rb:75-83)
            cols.append(F.col("_seq"))
        return resource0, resource1, event0, cols

    def shape(
        self,
        envelopes: DataFrame,
        body_col: str = "body",
        engine: str = "variant",
    ) -> DataFrame:
        """Envelope DF → typed rows ready for upsert.

        The Spark analog of the reference's per-row
        ``_resource_and_event → _prepare_for_insert → to_ruby_value``
        pipeline (base.rb:731-785, column.rb:457-491) — but compiled to a
        single declarative projection so Catalyst sees one narrow
        whole-stage-codegen stage, not a row loop.

        The DEFAULT engine ("variant") parses the resource body ONCE
        into a Spark-4 VariantType value (bound behind a Generate
        barrier) and digs every column from the shared parse — 1.7×
        faster end-to-end shaping on stripe_charge (11 cols) and 2.3×
        on the extraction microbench vs the per-column
        ``get_json_object`` re-parse, which remains available as
        ``engine="json_path"`` (ABBENCH_r06 §4). Output is
        row-identical across the dig/converter surface (parity caveat
        in :meth:`Col.extraction_expr`; the full replicator battery
        runs on the variant default). The ``data`` column keeps the
        original text path either way, so stored raw payload bytes are
        engine-independent.
        """
        if engine not in ("json_path", "variant"):
            raise ValueError(f"shape engine {engine!r}")
        if self.auth_only:
            raise NotImplementedError(
                f"{self.name} is a stub integration only for auth purposes"
            )
        # The extraction expressions are pure functions of
        # (spec, body_col, engine, received_at/_seq presence) — immutable
        # unresolved trees safe to reuse across batches — but BUILDING
        # them costs hundreds of py4j round-trips per call (one per
        # Column operator), and the composite ingest queries shape a
        # dozen batches per run. Memoized per spec instance (guide §5:
        # the driver should do almost no per-batch work); the spec is
        # compared by identity, so a dataclasses.replace copy is its own
        # key even when it keeps the name.
        has_received_at = "received_at" in envelopes.columns
        has_seq = "_seq" in envelopes.columns
        resource0, resource1, event0, cols = memo_col(
            ("shape", self, body_col, engine, has_received_at, has_seq),
            lambda: self._build_shape_exprs(
                body_col, engine, has_received_at=has_received_at, has_seq=has_seq
            ),
        )

        if self.explode_body_array:
            # Array bodies fan out one element per row (order-preserving:
            # posexplode folds into _seq so intra-batch last-wins still
            # follows arrival order); scalar bodies pass through.
            elems = F.coalesce(
                F.from_json(F.col(body_col), "array<string>"),
                F.array(F.col(body_col)),
            )
            envelopes = envelopes.select(
                *[c for c in envelopes.columns if c != body_col],
                F.posexplode(elems).alias("_elem_idx", body_col),
            )
            if "_seq" in envelopes.columns:
                envelopes = envelopes.withColumn(
                    "_seq",
                    F.col("_seq") * F.lit(1_000_000) + F.col("_elem_idx"),
                )
            envelopes = envelopes.drop("_elem_idx")

        if self.enrichment_fetcher is not None:
            envelopes = _attach_enrichment(
                envelopes.withColumn("_resource", resource0),
                self.enrichment_fetcher,
            )

        if engine == "variant":
            from webhookdb_spark.operators.util import bind

            envelopes = bind(
                envelopes.withColumn("_rsrc", resource1),
                "_rv",
                F.try_parse_json(F.col("_rsrc")),
            )
            if event0 is not None:
                # parse the EVENT envelope once too: event_key digs on
                # wrapped payloads (stripe event envelopes) otherwise
                # re-parse the event JSON per column — the exact
                # pattern the resource-side A/B measured at 1.7-2.3×
                envelopes = bind(
                    envelopes.withColumn("_evt", event0),
                    "_evv",
                    F.try_parse_json(F.col("_evt")),
                )
        out = envelopes.select(*cols)
        if self.prepare_hook is not None:
            out = self.prepare_hook(out)
        # Rows with no remote key are skipped, matching the reference's
        # nil-resource short-circuit (base.rb:744-760) — EXCEPT when the
        # key draws from the integration sequence (url_recorder_v1.rb's
        # requires_sequence?): those keys are NULL by design until the
        # upsert path fills them.
        if self.remote_key.defaulter == SEQUENCE_DEFAULTER:
            return out
        return out.where(F.col(self.remote_key.name).isNotNull())


# ---------------------------------------------------------------------------
# Registry (reference: lib/webhookdb/replicator.rb:151-199)
# ---------------------------------------------------------------------------

_REGISTRY: dict[str, ReplicatorSpec] = {}


def register(spec: ReplicatorSpec) -> ReplicatorSpec:
    _REGISTRY[spec.name] = spec
    return spec


def registered(name: str) -> ReplicatorSpec:
    return _REGISTRY[name]


def all_registered() -> dict[str, ReplicatorSpec]:
    return dict(_REGISTRY)
