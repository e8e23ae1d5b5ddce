"""Mounter: decode raw change events into typed rows — vectorized.

TiCDC's mounter turns a RawKVEntry into a RowChangedEvent by decoding the
value bytes against the schema snapshot at commit_ts - 1 and filling
defaults for columns missing from the event
(/root/reference/cdc/entry/mounter.go:129-230, datum2Column :402-451,
defaults :909-965). It runs 16 parallel workers
(/root/reference/cdc/entry/mounter_group.go:49-148).

Spark re-expression: ONE Arrow-batched pandas UDF per micro-batch (the
per-row work mandate) returning a struct of the current payload schema;
worker parallelism is Spark's task parallelism. Type casts happen
natively (JVM-side) after the UDF: the UDF emits strings/longs only, so
the Python hot loop is just JSON parsing over Arrow batches.
"""

from __future__ import annotations

import json

import pandas as pd
from pyspark.accumulators import AddingAccumulatorParam
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ticdc_spark.plans.schema_registry import SchemaRegistry, SchemaSnapshot


# drained tap accumulators, reused: PySpark keeps every accumulator it ever
# made in its driver registry, so a fresh one per window would grow with
# the feed's age
_IDLE: list = []


class LineageTap:
    """Lineage counted where the mount UDF already sees every row: per
    Arrow batch the UDF sums the rows' event counts (``_n_events`` of a
    deduped row, 1 of a raw event) and takes their max commit-ts per value
    of ``keys``, and adds those groups to a driver accumulator — no Spark
    job of its own.

    Exact where Spark applies each task's update once: a result-stage
    task's accumulator update is applied once per partition (the
    DAGScheduler merges only the first successful attempt), so a tapped
    mount must sit in its write's result stage, with no exchange above it.
    Under a ``persist`` (the CoW merges, ``run_streaming``) the mount runs
    in whichever stage first materializes the cache: a map stage that
    re-runs, or a lost cache block recomputed, counts its rows again."""

    def __init__(self, spark: SparkSession, keys: list):
        self.keys = list(keys)
        try:
            self.acc = _IDLE.pop()
        except IndexError:
            self.acc = spark.sparkContext.accumulator([], AddingAccumulatorParam([]))

    def counts(self) -> dict:
        """{key values: (events, max commit-ts)} of every row tapped; call
        once, after the tapped writes (the accumulator goes back idle)."""
        acc, self.acc = self.acc, None
        rows, acc.value = acc.value, []
        _IDLE.append(acc)
        out: dict = {}
        for *k, n, mx in rows:
            n0, mx0 = out.get(tuple(k), (0, mx))
            out[tuple(k)] = (n0 + n, max(mx0, mx))
        return out


def _decode_udf(current: SchemaSnapshot, writer_maps: dict, writer_types: dict | None = None,
                acc=None):
    """Build the pandas UDF for one micro-batch. ``writer_maps`` is
    {writer_version: {current_field: writer_field}} and ``writer_types``
    {writer_version: {current_field: writer_type}} (small dicts captured in
    the closure — the broadcast-dict pattern). Writer types drive the
    decode-side CAST when a ``modify_column`` changed a column's type:
    values written under the old type are coerced to the current type with
    vectorized pandas casts, matching the sink's cast-on-read.

    The hot loop is pandas' C JSON parser over the whole Arrow batch
    (``read_json(lines=True)``) — no per-row Python. Safe because the
    payloads are produced by JSON encoders that escape control characters,
    so a physical newline never occurs inside a payload.

    With ``acc`` (a :class:`LineageTap` accumulator) the UDF takes the tap's
    key columns, then the event count and the max commit-ts, after the
    payload and the version, and adds one row per key group of each batch.
    """
    import io

    # capture only plain data in the closure — a SchemaSnapshot reference
    # would make cloudpickle import ticdc_spark on executor python workers
    fields = [tuple(x) for x in current.fields]
    names = [n for n, _ in fields]
    # UDF-internal transport types: longs/doubles ride natively (exact over
    # Arrow), everything else as strings
    def _transport(t):
        if t in ("long", "bigint", "int"):
            return T.LongType()
        if t == "double":
            return T.DoubleType()
        return T.StringType()

    udf_schema = T.StructType(
        [T.StructField(n, _transport(t), True) for n, t in current.fields]
    )

    wtypes = writer_types or {}
    cur_type = dict(fields)

    def _coerce(col: pd.Series, wt: str | None, ct: str) -> pd.Series:
        """Align a writer-typed column to the current type — the decode-side
        cast for modify_column. Vectorized pandas casts only."""
        if wt is None or wt == ct:
            return col
        num_w = wt in ("int", "long", "bigint")
        num_c = ct in ("int", "long", "bigint")
        if (num_w and num_c) or (wt == "double" and ct == "double"):
            return col
        if ct == "string" and num_w:
            c = pd.Series(col).astype("Float64").astype("Int64").astype("string").astype(object)
            return c.where(pd.notna(c), None)
        if ct == "string" and wt == "double":
            c = pd.Series(col).astype("Float64").astype("string").astype(object)
            return c.where(pd.notna(c), None)
        if (num_c or ct == "double") and wt == "string":
            return pd.to_numeric(pd.Series(col), errors="coerce")
        if ct == "double" and num_w:
            return pd.Series(col).astype("Float64")
        return col

    def _pick(pdf: pd.DataFrame, w: str | None, n_rows: int) -> pd.Series:
        if w is not None and w in pdf.columns:
            col = pdf[w]
            if col.isna().any():
                col = col.astype(object).where(pd.notna(col), None)
            return col
        return pd.Series([None] * n_rows, dtype=object)

    def decode(payload: pd.Series, version: pd.Series, *tap: pd.Series) -> pd.DataFrame:
        n_rows = len(payload)
        if n_rows == 0:
            return pd.DataFrame({n: pd.Series([], dtype=object) for n in names})
        if tap:
            k = len(tap) - 2
            g = pd.concat(tap, axis=1, keys=range(len(tap))).groupby(
                list(range(k)), sort=False, dropna=False).agg({k: "sum", k + 1: "max"})
            acc.add(list(g.reset_index().itertuples(index=False, name=None)))
        buf = "\n".join(p if isinstance(p, str) else "{}" for p in payload.tolist())
        # dtype=False preserves the JSON types: a column of all-numeric
        # STRINGS (e.g. text="100") must not be coerced to int64
        pdf = pd.read_json(io.StringIO(buf), lines=True, convert_dates=False, dtype=False)
        version = version.reset_index(drop=True)
        uniq = version.unique()
        if len(uniq) == 1:
            v0 = int(uniq[0])
            wm = writer_maps.get(v0, {})
            wt = wtypes.get(v0, {})
            out = {
                n: _coerce(_pick(pdf, wm.get(n), n_rows), wt.get(n), cur_type[n])
                for n in names
            }
        else:
            out = {n: pd.Series([None] * n_rows, dtype=object) for n in names}
            for v in uniq:
                mask = (version == v).to_numpy()
                wm = writer_maps.get(int(v), {})
                wt = wtypes.get(int(v), {})
                for n in names:
                    col = _coerce(_pick(pdf, wm.get(n), n_rows), wt.get(n), cur_type[n])
                    out[n] = out[n].mask(mask, col)
        # long transport fields: a column with missing rows parses as
        # float64 (NaN) — convert to nullable Int64 so Arrow gets exact
        # integers (float64 is integer-exact below 2^53; payload encoders
        # must keep long fields below that, which epoch-micros are)
        from pandas.api.types import infer_dtype

        for n, t in fields:
            if t in ("long", "bigint", "int"):
                if out[n].dtype != "Int64":
                    out[n] = pd.Series(out[n]).astype("Float64").astype("Int64")
            elif t == "double":
                out[n] = pd.Series(out[n]).astype("Float64")
            else:
                # string transport. Fast path: already all-string objects.
                # After a modify_column to string, old writers' values are
                # NUMBERS in the same batch — stringify them (the pandas
                # twin of the sink's cast-on-read), detected with a single
                # C pass (infer_dtype), no per-row Python on the fast path.
                col = pd.Series(out[n])
                kind = infer_dtype(col, skipna=True)
                if col.dtype != object or kind not in ("string", "empty"):
                    col = col.astype("string").astype(object)
                out[n] = col.where(pd.notna(col), None)
        return pd.DataFrame(out)

    # asNondeterministic: the UDF feeds the side-effecting LineageTap, so
    # the optimizer must never duplicate its evaluation or reorder it past
    # a filter — the tap counts each row exactly once
    return F.pandas_udf(decode, returnType=udf_schema).asNondeterministic()


def mount(
    df: DataFrame,
    registry: SchemaRegistry,
    as_of_ts: int,
    payload_col: str = "payload",
    version_col: str = "schema_version",
    defaults: dict | None = None,
    tap: LineageTap | None = None,
) -> DataFrame:
    """Decode ``payload`` (JSON string, writer-versioned) into typed
    columns of the snapshot at ``as_of_ts``.

    Inside one barrier-delimited sub-batch every event decodes against the
    same sink snapshot (the driver loop splits batches at DDL commit-ts),
    but each event's *writer* schema may be any version <= its own
    commit_ts - 1; the per-event ``schema_version`` column selects the
    right field mapping, mirroring snapshot-at-CRTs-1
    (cdc/entry/mounter.go:173).

    Columns absent from an event get the column default or NULL
    (getDefaultOrZeroValue, mounter.go:909-965) — pass ``defaults``.
    Delete events (payload NULL) yield an all-NULL struct; MERGE only
    needs their keys.

    ``tap`` counts every decoded row's events by its key columns (see
    :class:`LineageTap`); a deduped row carries its own ``_n_events`` /
    ``_max_commit_ts``, a raw event counts 1 at its ``commit_ts``.
    """
    current = registry.snapshot_at(as_of_ts)
    writer_maps = registry.writer_field_map(current)
    writer_types = registry.writer_type_map(current)
    args = [F.col(payload_col), F.col(version_col)]
    if tap is not None:
        stats = ([F.col("_n_events"), F.col("_max_commit_ts")] if "_n_events" in df.columns
                 else [F.lit(1).cast("long"), F.col("commit_ts")])
        args += [*map(F.col, tap.keys), *stats]
    udf = _decode_udf(current, writer_maps, writer_types,
                      tap.acc if tap is not None else None)
    field_names = {n for n, _ in current.fields}
    # ONE select, not a withColumn per field: each withColumn adds a plan
    # node the analyzer re-walks — at one mount per micro-batch the loop
    # was a measurable slice of the per-batch driver constant
    exprs = []
    for n, t in current.fields:
        col = F.col(f"_m.{n}")
        if t == "timestamp":
            col = F.timestamp_micros(col.cast("long"))
        elif n == "ts" and t == "long":
            # transcript convention: ts travels as epoch micros
            col = F.timestamp_micros(col)
        else:
            col = col.cast({"string": "string", "int": "int", "long": "long",
                            "bigint": "long", "double": "double"}[t])
        if defaults and n in defaults:
            col = F.coalesce(col, F.lit(defaults[n]))
        exprs.append(col.alias(n))
    keep = [
        c for c in df.columns
        if c not in field_names and c not in (payload_col, "pre_payload", version_col)
    ]
    return df.withColumn("_m", udf(*args)).select(
        *keep, *exprs
    )


def mounted_columns(registry: SchemaRegistry, as_of_ts: int) -> list:
    """Payload column names after mount at a given snapshot."""
    return [n for n, _ in registry.snapshot_at(as_of_ts).fields]


def verify_checksum(df: DataFrame, payload_col: str = "payload") -> DataFrame:
    """Integrity check analog (cdc/entry/mounter.go:453-523): attach a
    64-bit payload checksum; a sink can quarantine rows whose recomputed
    checksum mismatches a transported one. Native xxhash64 — no UDF."""
    return df.withColumn("_checksum", F.xxhash64(F.coalesce(F.col(payload_col), F.lit(""))))


def checksum_split(df: DataFrame, payload_col: str = "payload",
                   checksum_col: str = "checksum", algo: str = "md5"):
    """P3 wired: recompute the payload checksum and split the batch into
    (valid, quarantined) — the corrupted-row quarantine the reference's
    integrity verifier performs before mounting
    (cdc/entry/mounter.go:453-523). ``algo`` 'xxhash64' (fastest, JVM
    native) or 'md5' (portable to external oracles). Rows with a NULL
    transported checksum are trusted (deletes carry no payload)."""
    if algo == "md5":
        recomputed = F.md5(F.coalesce(F.col(payload_col), F.lit("")))
    elif algo == "xxhash64":
        recomputed = F.xxhash64(F.coalesce(F.col(payload_col), F.lit(""))).cast("string")
    else:
        raise ValueError(f"unknown checksum algo {algo!r}")
    ok = F.col(checksum_col).isNull() | (F.col(checksum_col) == recomputed)
    valid = df.filter(ok).drop(checksum_col)
    quarantined = df.filter(~ok)
    return valid, quarantined
