"""Schema-projected TSV reader — the reference's parse path, Spark-first.

Reference behavior being ported (SURVEY.md §2.1-§2.3):
- tab-separated with a header row, streamed (load.ts:152-165);
- headers trimmed, columns not in the declared model dropped
  (load.ts:159-165 mapHeaders) — here: read everything as string,
  then select the declared columns; Catalyst prunes the rest before
  any downstream op;
- strict cell-count parse (load.ts:164) -> FAILFAST, on every path
  that reads through here (the local load and the object-store load,
  sources/object_store.py); the S3 reference's permissive parse
  (load-s3.ts:218-228) is ported as PERMISSIVE by s10_permissive_read
  (plans/core.py);
- empty string -> NULL (load.ts:31-34) -> nullValue "";
- typed casts from the declared schema (load.ts:36-42): int via cast,
  dates via to_date with the MM/dd/yyyy input format
  (Voter.prisma:68).

Scale: the TSV scan parallelizes by file split; projection and the
file-level predicates (DEMOGRAPHIC skip, extension filters) are
declarative so they prune before the cast work.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from voter_file_etl_spark.schema import DATE_FORMAT, VOTER_FIELDS


def read_tsv(
    spark: SparkSession,
    path: str,
    fields: dict[str, T.DataType] | None = None,
) -> DataFrame:
    """Read TSV file(s) at ``path`` (FAILFAST), project to the declared
    schema, normalize empty strings to NULL, and cast types.

    Unknown input columns are dropped (mapHeaders semantics); declared
    columns missing from the input come back as NULL (the input may be
    narrower than the model, as with the district columns added in
    migration 20240618150602).
    """
    fields = fields or VOTER_FIELDS
    raw = (
        spark.read.option("sep", "\t")
        .option("header", True)
        .option("nullValue", "")
        .option("mode", "FAILFAST")
        .csv(path)
    )
    # Header trim (load.ts:162), projection, and casts all happen in a
    # SINGLE selectExpr: the expressions are built as SQL strings and
    # parsed JVM-side in one call. Building them as Column objects
    # costs one py4j round-trip per method call — ~2 s per file on the
    # 339-column voter schema, re-paid for every file of a multi-state
    # load (measured round 6; this was the dominant cost of the whole
    # ETL loop). String assembly is pure Python and amortizes to ~ms.
    present = {c.strip(): c for c in raw.columns}
    if len(present) != len(raw.columns):
        # Two raw headers collide after trimming (e.g. 'Name' and
        # 'Name '): a silent dict build would keep whichever came last
        # and read the wrong column. The reference's mapHeaders path
        # surfaced this as an ambiguous-column error; fail loudly here
        # too rather than guessing.
        seen: dict[str, str] = {}
        clashes = []
        for c in raw.columns:
            k = c.strip()
            if k in seen:
                clashes.append((seen[k], c))
            seen[k] = c
        raise ValueError(
            f"TSV headers collide after whitespace trim: {clashes!r}"
        )

    def _q(name: str) -> str:
        return "`" + name.replace("`", "``") + "`"

    exprs: list[str] = []
    for name, dtype in fields.items():
        tgt = _q(name)
        if name not in present:
            exprs.append(f"CAST(NULL AS {dtype.simpleString()}) AS {tgt}")
            continue
        src = _q(present[name])
        if isinstance(dtype, T.DateType):
            exprs.append(f"to_date({src}, '{DATE_FORMAT}') AS {tgt}")
        elif isinstance(dtype, T.StringType):
            exprs.append(f"{src} AS {tgt}")
        else:
            # try_cast: malformed numerics become NULL instead of
            # failing the load under Spark 4's default ANSI mode —
            # matching the reference's permissive Number(value) cast
            # (load.ts:36-42).
            exprs.append(f"try_cast({src} AS {dtype.simpleString()}) AS {tgt}")
    return raw.selectExpr(*exprs)


def parse_state_from_filename(col: F.Column) -> F.Column:
    """`{seq}--{STATE}--{date}.tab` -> STATE (load.ts:93)."""
    return F.split_part(col, F.lit("--"), F.lit(2))


def parse_seq_from_filename(col: F.Column) -> F.Column:
    """`{seq}--{STATE}--{date}.tab` -> numeric seq (utils.ts:18-23)."""
    return F.split_part(col, F.lit("--"), F.lit(1)).cast("int")
