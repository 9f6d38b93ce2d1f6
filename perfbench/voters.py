"""Seeded voter-file deliveries and the checks run after each one.

A delivery is a set of reference-format TSV files,
``{seq}--{ST}--{date}.tab``: tab-separated, header row, empty string =
NULL, the FIXTURES.md A1 columns in a per-file shuffled order plus two
columns the voter model does not declare (about 5 % of the header).
About 1 % of primary keys appear twice with differing attributes,
about 3 % of rows have blank coordinates, about 5 % of cities carry
the `` (EST.)`` suffix, and every delivery has one DEMOGRAPHIC file
that the load must skip. State sizes are skewed: the first of eight
states holds 40 % of the rows, the rest form a long tail (20-2 %).

Delivery 0 carries every state. Each later delivery replaces a few
states with fresh files, so the load parks, promotes and retires live
data.

The expected warehouse is computed with DuckDB from the delivered files
(:class:`Expected`): the loader's typing, then per primary key the
lowest full row, ordered the way Spark orders ``struct(*)`` over the
declared voter columns (field by field in declaration order, NULL
first). :func:`check_warehouse` compares it with what the load
published.
"""

from __future__ import annotations

import datetime as dt
import os
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.csv as pa_csv

STATES = ("CA", "TX", "FL", "NY", "OH", "PA", "NV", "WY")
STATE_SHARE = (0.40, 0.20, 0.12, 0.09, 0.08, 0.06, 0.03, 0.02)
PK = "LALVOTERID"
CITY = "Residence_Addresses_City"
LAT = "Residence_Addresses_Latitude"
LON = "Residence_Addresses_Longitude"
ZIP = "Residence_Addresses_Zip"
GEOHASH = "Residence_Addresses_GeoHash"
PARTY = "Parties_Description"
EST = " (EST.)"
UNKNOWN_COLUMNS = ("Vendor_Batch_Code", "Vendor_Row_Flag")

# The A1 input columns with their declared types (schema.VOTER_FIELDS):
# "int" and "date" columns are cast by the loader, the rest stay text.
# The derived geohash is not an input column.
COLUMNS: dict[str, str] = {
    PK: "str",
    "Voters_Active": "str",
    "Voters_StateVoterID": "str",
    "Voters_FirstName": "str",
    "Voters_MiddleName": "str",
    "Voters_LastName": "str",
    "Voters_NameSuffix": "str",
    "Residence_Addresses_AddressLine": "str",
    CITY: "str",
    ZIP: "str",
    "Residence_Addresses_HouseNumber": "int",
    LAT: "str",
    LON: "str",
    "Mailing_Families_FamilyID": "str",
    "Mailing_Families_HHCount": "int",
    "Voters_Age": "str",
    "Voters_Gender": "str",
    PARTY: "str",
    "Ethnic_Description": "str",
    "Voters_CalculatedRegDate": "date",
    "Voters_OfficialRegDate": "str",
    "General_2022": "str",
    "General_2020": "str",
    "US_Congressional_District": "str",
    "County": "str",
}

_FIRST = "James Mary John Patricia Robert Jennifer Michael Linda William Elizabeth Ana Wei".split()
_LAST = "Smith Johnson Williams Brown Jones Garcia Miller Davis Lopez Nguyen Kim Patel".split()
_PARTIES = ("Democratic", "Republican", "Non-Partisan", "Libertarian", "Green")
_STREETS = ("Main St", "Oak Ave", "Pine Rd", "Maple Dr", "Cedar Ln", "Elm St")
_LETTERS = [chr(65 + i) for i in range(26)]


@dataclass
class StateFile:
    filename: str
    state: str
    lines: int  # wc -l semantics: header plus every data row


@dataclass
class Delivery:
    index: int
    files: list[StateFile] = field(default_factory=list)
    demographic: str = ""


def _q(name: str) -> str:
    return f'"{name}"'


def _pick(rng: np.random.Generator, options, n: int) -> pa.Array:
    idx = pa.array(rng.integers(0, len(options), n).astype(np.int32))
    return pa.DictionaryArray.from_arrays(idx, pa.array(list(options))).cast(pa.string())


def _text(values) -> pa.Array:
    return pc.cast(pa.array(values), pa.string())


def _pad(values, width: int) -> pa.Array:
    return pc.utf8_lpad(_text(values), width, "0")


def _cat(*parts) -> pa.Array:
    return pc.binary_join_element_wise(*parts, "")


def _num(rng: np.random.Generator, lo: int, hi: int, n: int) -> pa.Array:
    return _text(rng.integers(lo, hi, n))


def _blank_where(mask: np.ndarray, values: pa.Array) -> pa.Array:
    return pc.if_else(pa.array(mask), "", values)


def _dates(rng: np.random.Generator, n: int) -> pa.Array:
    m, d, y = rng.integers(1, 13, n), rng.integers(1, 29, n), rng.integers(1970, 2024, n)
    return _cat(_pad(m, 2), "/", _pad(d, 2), "/", _text(y))


def _degrees(micro: np.ndarray) -> pa.Array:
    """Fixed five-decimal text of ``micro`` / 1e5 (negative allowed)."""
    mag = np.abs(micro)
    sign = pc.if_else(pa.array(micro < 0), "-", "")
    return _cat(sign, _text(mag // 100_000), ".", _pad(mag % 100_000, 5))


def _rows(rng: np.random.Generator, state: str, n: int, pk_base: int) -> pa.Table:
    """``n`` distinct voters of one state as text cells."""
    blank = rng.random(n) < 0.03
    est = rng.random(n) < 0.05
    cols = {
        PK: _cat("LAL", _pad(np.arange(pk_base, pk_base + n), 9)),
        "Voters_Active": _pick(rng, ("A", "I", ""), n),
        "Voters_StateVoterID": _num(rng, 10**6, 10**9, n),
        "Voters_FirstName": _pick(rng, _FIRST, n),
        "Voters_MiddleName": _blank_where(rng.random(n) < 0.3, _pick(rng, _LETTERS, n)),
        "Voters_LastName": _pick(rng, _LAST, n),
        "Voters_NameSuffix": _pick(rng, ("", "", "", "Jr.", "Sr."), n),
        "Residence_Addresses_AddressLine": _cat(
            _num(rng, 1, 9999, n), " ", _pick(rng, _STREETS, n)
        ),
        CITY: _cat(
            f"{state} City ", _num(rng, 0, 40, n), pc.if_else(pa.array(est), EST, "")
        ),
        ZIP: _pad(rng.integers(10000, 99999, n), 5),
        "Residence_Addresses_HouseNumber": _num(rng, 1, 9999, n),
        LAT: _blank_where(blank, _degrees(rng.integers(2_450_000, 4_940_000, n))),
        LON: _blank_where(blank, _degrees(-rng.integers(6_690_000, 12_480_000, n))),
        "Mailing_Families_FamilyID": _cat("M", _pad(rng.integers(0, max(1, n // 3), n), 7)),
        "Mailing_Families_HHCount": _num(rng, 1, 11, n),
        "Voters_Age": _num(rng, 18, 100, n),
        "Voters_Gender": _pick(rng, ("M", "F", ""), n),
        PARTY: _pick(rng, _PARTIES, n),
        "Ethnic_Description": _cat("Ethnic group ", _num(rng, 0, 100, n)),
        "Voters_CalculatedRegDate": _dates(rng, n),
        "Voters_OfficialRegDate": _dates(rng, n),
        "General_2022": _pick(rng, ("Y", ""), n),
        "General_2020": _pick(rng, ("Y", ""), n),
        "US_Congressional_District": _cat("CD-", _pad(rng.integers(1, 20, n), 2)),
        "County": _cat(f"{state} County ", _num(rng, 0, 12, n)),
    }
    for c in UNKNOWN_COLUMNS:
        cols[c] = _cat("x", _num(rng, 0, 1000, n))
    return pa.table(cols)


def _with_duplicates(rng: np.random.Generator, rows: pa.Table) -> pa.Table:
    """About 1 % of keys again, each copy differing in a few attributes
    (same coordinates, so the derived geohash agrees); shuffled."""
    n = max(1, rows.num_rows // 100)
    dups = rows.take(pa.array(rng.choice(rows.num_rows, n, replace=False)))
    for name, values in (
        ("Voters_FirstName", _pick(rng, _FIRST, n)),
        ("Voters_Age", _num(rng, 18, 100, n)),
        (PARTY, _pick(rng, _PARTIES, n)),
        ("Residence_Addresses_HouseNumber", _num(rng, 1, 9999, n)),
    ):
        dups = dups.set_column(dups.schema.get_field_index(name), name, values)
    out = pa.concat_tables([rows, dups])
    return out.take(pa.array(rng.permutation(out.num_rows)))


def _write_tsv(path: str, table: pa.Table) -> None:
    with open(path, "wb") as f:
        f.write(("\t".join(table.column_names) + "\n").encode())
        pa_csv.write_csv(
            table, f,
            pa_csv.WriteOptions(include_header=False, delimiter="\t", quoting_style="none"),
        )


def make_delivery(
    files_dir: str, seed: int, index: int, states, total_rows: int, seq0: int
) -> Delivery:
    """Write delivery ``index`` of ``states`` into ``files_dir``. A
    state's file holds its ``STATE_SHARE`` of ``total_rows`` (plus
    duplicates). Files are numbered from ``seq0``; the DEMOGRAPHIC file
    takes the next number. Same arguments -> same files."""
    rng = np.random.default_rng([seed, index])
    day = (dt.date(2024, 1, 1) + dt.timedelta(days=index)).isoformat()
    delivery = Delivery(index)
    for j, state in enumerate(states):
        n = max(50, int(total_rows * STATE_SHARE[STATES.index(state)]))
        rows = _with_duplicates(rng, _rows(rng, state, n, pk_base=int(rng.integers(0, 10**8))))
        header = rows.column_names
        rows = rows.select([header[int(i)] for i in rng.permutation(len(header))])
        filename = f"{seq0 + j}--{state}--{day}.tab"
        _write_tsv(os.path.join(files_dir, filename), rows)
        delivery.files.append(StateFile(filename, state, rows.num_rows + 1))
    delivery.demographic = f"{seq0 + len(states)}--{states[0]}--{day}--DEMOGRAPHIC.tab"
    with open(os.path.join(files_dir, delivery.demographic), "w") as f:
        f.write(f"{PK}\tEthnic_Description\n")
        for i in range(20):  # keys check_warehouse must never find live
            f.write(f"DEMO{index:04d}{i:05d}\tdemographic only\n")
    return delivery


def _typed(name: str) -> str:
    """DuckDB expression for the value the loader publishes for one
    input column (read as text, empty = NULL)."""
    kind, col = COLUMNS[name], f"src.{_q(name)}"
    if kind == "int":
        return f"CAST({col} AS INTEGER)"
    if kind == "date":
        return f"CAST(strptime({col}, '%m/%d/%Y') AS DATE)"
    if name == CITY:
        return f"regexp_replace({col}, ' \\(EST\\.\\)$', '')"
    return col


def survivors_sql(path: str) -> str:
    """The rows that must be live after loading the TSV at ``path``: per
    primary key, the lowest typed row in declaration order, NULL first."""
    names = list(COLUMNS)
    order = ", ".join(f"{_q(c)} ASC NULLS FIRST" for c in names)
    src = (
        f"read_csv('{path}', delim='\\t', header=true, all_varchar=true, "
        f"quote='', escape='') AS src"
    )
    typed = ", ".join(f"{_typed(c)} AS {_q(c)}" for c in names)
    return (
        f"SELECT {', '.join(_q(c) for c in names)} FROM ("
        f"SELECT *, row_number() OVER (PARTITION BY {_q(PK)} ORDER BY {order}) AS _rank "
        f"FROM (SELECT {typed} FROM {src})) WHERE _rank = 1"
    )


class Expected:
    """The warehouse the deliveries so far should have published, as a
    DuckDB table ``expected`` (state + the declared columns)."""

    def __init__(self, con):
        self.con = con
        cols = ", ".join(f"{_q(c)} {'INTEGER' if k == 'int' else 'DATE' if k == 'date' else 'VARCHAR'}"
                         for c, k in COLUMNS.items())
        con.execute(f"CREATE OR REPLACE TABLE expected (state VARCHAR, {cols})")

    def replace(self, state: str, path: str) -> None:
        """``state`` is now the rows of the file at ``path``."""
        self.con.execute("DELETE FROM expected WHERE state = ?", [state])
        self.con.execute(f"INSERT INTO expected SELECT '{state}', * FROM ({survivors_sql(path)})")

    def states(self) -> set[str]:
        return {r[0] for r in self.con.execute("SELECT DISTINCT state FROM expected").fetchall()}

    def party_counts(self) -> dict[tuple[str, str], int]:
        """Expected result of the state x party read."""
        rows = self.con.execute(
            f"SELECT state, {_q(PARTY)}, count(*) FROM expected GROUP BY ALL"
        ).fetchall()
        return {(s, p): c for s, p, c in rows}

    def county_zip_keys(self, county: str, zip_prefix: str) -> list[str]:
        """Expected result of the county/zip filter read, sorted."""
        rows = self.con.execute(
            f"SELECT {_q(PK)} FROM expected WHERE County = ? AND starts_with({_q(ZIP)}, ?) "
            f"ORDER BY 1",
            [county, zip_prefix],
        ).fetchall()
        return [r[0] for r in rows]


def check_load(delivery: Delivery, results) -> list[str]:
    """Problems with ``run_load``'s own report: one reconciled result per
    delivered state file, none for the DEMOGRAPHIC file."""
    problems = []
    got = {r.filename: r for r in results}
    want = {f.filename for f in delivery.files}
    if set(got) != want:
        problems.append(f"loaded files {sorted(got)} != delivered {sorted(want)}")
    for name, r in got.items():
        if not r.reconciled:
            problems.append(f"{name}: reconciled=False")
    return problems


def check_warehouse(con, warehouse_dir: str, gh_sql) -> list[str]:
    """Problems with the published warehouse, read back with DuckDB and
    compared with the ``expected`` table of :class:`Expected` on ``con``.

    ``gh_sql(lat, lon)`` is the engine's geohash expression in DuckDB's
    dialect.
    """
    problems = []
    glob = os.path.join(warehouse_dir, "state=*", "*.parquet")
    rel = f"read_parquet('{glob}', hive_partitioning = true)"
    cols = ", ".join(_q(c) for c in COLUMNS)
    con.execute(
        f"CREATE OR REPLACE TEMP VIEW published AS "
        f"SELECT CAST(state AS VARCHAR) AS state, {cols} FROM {rel}"
    )
    rows = dict(con.execute("SELECT state, count(*) FROM published GROUP BY 1").fetchall())
    want = dict(con.execute("SELECT state, count(*) FROM expected GROUP BY 1").fetchall())
    if set(rows) != set(want):
        problems.append(f"live states {sorted(rows)} != {sorted(want)}")
    for state in sorted(set(rows) & set(want)):
        if rows[state] != want[state]:
            problems.append(
                f"{state}: {rows[state]} rows published, {want[state]} distinct keys delivered"
            )
    (missing,) = con.execute(
        "SELECT count(*) FROM (SELECT * FROM expected EXCEPT ALL SELECT * FROM published)"
    ).fetchone()
    if missing:
        problems.append(f"{missing} expected rows (lowest full row per key) are not published")
    lat = f"TRY_CAST({_q(LAT)} AS DOUBLE)"
    lon = f"TRY_CAST({_q(LON)} AS DOUBLE)"
    (bad_gh, est, demo) = con.execute(
        f"""SELECT
          count(*) FILTER (WHERE {_q(GEOHASH)} IS DISTINCT FROM
            CASE WHEN {lat} IS NULL OR {lon} IS NULL THEN NULL ELSE {gh_sql(lat, lon)} END),
          count(*) FILTER (WHERE {_q(CITY)} LIKE '%{EST}'),
          count(*) FILTER (WHERE {_q(PK)} LIKE 'DEMO%')
        FROM {rel}"""
    ).fetchone()
    if bad_gh:
        problems.append(f"{bad_gh} geohashes differ from the DuckDB recomputation")
    if est:
        problems.append(f"{est} cities keep the{EST} suffix")
    if demo:
        problems.append(f"{demo} rows came from a DEMOGRAPHIC file")
    return problems
