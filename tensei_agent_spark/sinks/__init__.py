"""Sink writers: DataFrame + TargetSpec → persisted output.

Reference parity (SURVEY.md §2.2): WriterSupervisor dispatch by target
URI type (``WriterSupervisor.scala:181-199``), FileWriterActor (CSV /
flat), JsonFileWriterActor (nested JSON), DatabaseWriterActor (JDBC
insert/upsert/DDL), NetworkFileWriterActor (FTP/SFTP push staging).

Write-side semantics shared by every sink (applied in ``prepare``):

- **unique-column dedup** ≙ BaseWriterFilter: rows whose unique-column
  values repeat are dropped, first-in-order wins
  (``writers/BaseWriterFilterWorker.scala:231-280``);
- **default substitution** on NULL target cells ≙ ``processTargetData``
  (``helpers/ProcessorHelpers.scala:124-139``);
- **row cap** ≙ target ``seq max`` / ``fixseq count``.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..operators import named_col
from ..plans.spec import Field, TargetSpec

WRITERS: dict[str, Callable[[DataFrame, TargetSpec], None]] = {}


def register(fmt: str):
    def deco(fn):
        WRITERS[fmt] = fn
        return fn

    return deco


def _target_column(f: Field, dtypes: dict[str, str]) -> Column:
    """One declared target field as it is written.

    A field no mapping produced is a typed NULL: the reference writes
    None for unmapped elements (MappingModeAssociation.scala:526-756
    leaves date_entered unmapped and the target table still has the
    column). Then, ≙ ``processTargetData``
    (``helpers/ProcessorHelpers.scala:124-212``): cast to the declared
    type (a num source mapped onto a str target lands as its string
    rendering, e.g. Drupal2WP status→comment_approved VARCHAR; a
    declared decimal truncates precision), the default on NULL, the
    ``format`` regex re-check (non-matching values null out) and the
    max-length cut (dfasdl-utils processStringData,
    processors/long-column-expected-target.csv).
    """
    base = named_col(f.name)
    if f.name not in dtypes:
        c = F.lit(None).cast(f.type)
    elif f.type and dtypes[f.name] != f.type:
        c = base.cast(f.type)
    else:
        c = base
    if f.default is not None:
        c = F.coalesce(c, F.lit(f.default).cast(f.type))
    if f.format and f.type == "string":
        c = F.when(c.rlike(f.format), c)
    if f.max_length and f.type == "string":
        c = F.substring(c, 1, int(f.max_length))
    return c if c is base else c.alias(f.name)


def prepare(df: DataFrame, spec: TargetSpec) -> DataFrame:
    """Apply the shared write-side semantics as one projection (see
    :func:`_target_column`), then unique-column dedup and the row cap.

    When a declared field is missing, the declared fields come first in
    declaration order, followed by any undeclared columns.
    """
    dtypes = dict(df.dtypes)
    fields = {f.name: f for f in spec.fields}
    names = df.columns
    if any(name not in dtypes for name in fields):
        names = [*fields, *[c for c in df.columns if c not in fields]]
    out = df.select(
        *[
            _target_column(fields[c], dtypes) if c in fields else named_col(c)
            for c in names
        ]
    )
    unique_cols = [f.name for f in spec.fields if f.unique]
    if unique_cols:
        from ..operators.dedup import dedup_exact

        order_cols = [c for c in out.columns if c not in unique_cols] or unique_cols
        out = dedup_exact(out, unique_cols, keep_order=order_cols)
    limit = spec.options.get("limit")
    if limit:
        out = out.limit(int(limit))
    return out


def write_target(df: DataFrame, spec: TargetSpec) -> None:
    """Dispatch by format (≙ WriterSupervisor) after shared prepare.

    Remote (ftp/sftp) target URIs get the NetworkFileWriter treatment:
    write a single local file, then push (``sources.net.push_file``).
    """
    import urllib.parse

    if spec.format not in WRITERS:
        raise ValueError(f"unsupported target format {spec.format!r}")
    scheme = urllib.parse.urlparse(spec.uri).scheme.lower()
    if scheme in ("ftp", "ftps", "sftp"):
        import os
        import tempfile

        from ..sources.net import push_file
        from .. import plans

        local = os.path.join(
            tempfile.mkdtemp(prefix="tensei_push_"),
            os.path.basename(urllib.parse.urlparse(spec.uri).path) or "out",
        )
        local_spec = plans.TargetSpec(
            spec.name, spec.format, local, spec.fields,
            {**spec.options, "single_file": True}, spec.mode, spec.foreign_keys,
        )
        WRITERS[spec.format](prepare(df, local_spec), local_spec)
        push_file(local, spec.uri)
        return
    WRITERS[spec.format](prepare(df, spec), spec)


from . import csv, jdbc, json, orc, parquet  # noqa: E402,F401
