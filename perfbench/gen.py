"""Seeded input generators for the benchmark workloads.

Every generator takes a seed and returns inputs together with the
numbers the output checks need, worked out from how the inputs were
built rather than by running a second engine:

- ``etl_sources``: raw payloads for all twelve ``pipelines.SOURCES`` in
  the shapes their retrievers accept, with planted non-M49 areas,
  out-of-window years, null / ``NaN`` / ``<x`` values and duplicate
  series keys. For each source it knows how many rows must land, how
  many of those carry a null value (the rows ``validate_split``
  quarantines) and the series keys of the valid rows.
- ``prior_release``: canonical observations of the previous release,
  part of them overlapping the new release's keys.
- ``query_observations``: a sparse indicator panel the query star is
  built from.
- ``corpus``: documents with planted low-quality docs, exact-duplicate
  clusters and near-duplicate clusters.

Shapes (row counts) depend only on the size constants below, never on
the seed; the seed picks countries, values and which rows are dirty.
"""

from __future__ import annotations

import csv
import io
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa

from dfx_indicators_etl_spark.sources.m49 import get_country_metadata

# Settings window the refresh runs with; clean years sit inside it and
# inside the WDI transformer's own 2015 floor.
YEAR_MIN, YEAR_MAX = 2005, 2024
YEARS = list(range(2015, 2025))
OUT_OF_WINDOW_YEARS = [1996, 1997, 1998]

# Per-source size: indicators x countries x len(YEARS) clean cells.
N_INDICATORS = 6
N_COUNTRIES = 150
# Planted dirt per source (rows, or cells for the wide sources).
N_NULL = 400
N_ODD = 300  # NaN / "<x" values, for sources whose payload carries strings
N_DUP = 250
N_NON_M49 = 200
N_OUT_OF_WINDOW = 200

SERIES_KEY = ("indicator_name", "country_code", "year", "dimension")


def m49_areas() -> list[tuple[str, str, str, str]]:
    """``(name, m49, iso3, iso2)`` for every M49 country, table order."""
    return list(
        zip(
            get_country_metadata("name", sort=False),
            get_country_metadata("m49", sort=False),
            get_country_metadata("iso-alpha-3", sort=False),
            get_country_metadata("iso-alpha-2", sort=False),
        )
    )


# ISO 3166 reserves QM-QZ for user assignment, so no M49 country uses
# these; the M49 codes sit above the table's largest (894).
NON_M49 = [
    (f"Region Q{i:02d}", str(9000 + i), f"QZ{chr(65 + i)}", f"Q{chr(65 + i)}")
    for i in range(20)
]


@dataclass
class Cell:
    """One clean canonical observation and how its raw row is dirtied.

    ``fate`` is one of ``clean``, ``null``, ``odd`` (NaN or ``<x``).
    """

    ind: int
    area: tuple[str, str, str, str]
    year: int
    value: float
    fate: str = "clean"


@dataclass
class SourceInput:
    """What one source's retriever receives plus its expected outcome."""

    name: str
    kind: str  # "payload" (staged parquet) or "csv" (staged file)
    table: object  # pyarrow.Table for payloads, CSV text for files
    rows_in: int
    expected_rows: int
    expected_null_values: int
    valid_keys: set = field(default_factory=set)


class _Planter:
    """Draws the clean cells of one source and marks planted dirt."""

    def __init__(self, seed: int, index: int, areas):
        self.rng = np.random.default_rng([seed, index])
        chosen = self.rng.choice(len(areas), N_COUNTRIES, replace=False)
        self.areas = [areas[i] for i in sorted(chosen)]
        self.cells = [
            Cell(k, area, year, self.value())
            for k in range(N_INDICATORS)
            for area in self.areas
            for year in YEARS
        ]
        self.order = list(self.rng.permutation(len(self.cells)))

    def value(self) -> float:
        return round(float(self.rng.lognormal(3.0, 1.0)), 3)

    def take(self, n: int) -> list[Cell]:
        """``n`` distinct clean cells, never handed out twice."""
        out = [self.cells[i] for i in self.order[:n]]
        del self.order[:n]
        return out

    def mark(self, n: int, fate: str) -> list[Cell]:
        cells = self.take(n)
        for c in cells:
            c.fate = fate
        return cells

    def non_m49(self, n: int) -> list[Cell]:
        return [
            Cell(c.ind, NON_M49[i % len(NON_M49)], c.year, self.value())
            for i, c in enumerate(self.take(n))
        ]

    def out_of_window(self, n: int) -> list[Cell]:
        return [
            Cell(c.ind, c.area, OUT_OF_WINDOW_YEARS[i % 3], self.value())
            for i, c in enumerate(self.take(n))
        ]


def _csv_text(header: list[str], rows: list[list]) -> str:
    buf = io.StringIO()
    w = csv.writer(buf, lineterminator="\n")
    w.writerow(header)
    w.writerows(rows)
    return buf.getvalue()


def _fmt(v: float | None) -> str:
    return "" if v is None else f"{v:.3f}"


def _finish(
    name, kind, table, rows_in, cells, dims, ind_name, dup_fate,
    null_lands, odd_lands_as, n_dups,
):
    """Expected outcome from the planted cells and the source's rules.

    ``null_lands``: a null value survives the transform (no null
    filter). ``odd_lands_as``: ``"value"`` (``<x`` parses), ``"null"``
    (casts to null and lands) or ``None`` (dropped). ``dup_fate``: what
    each planted duplicate-key row does — ``"lands"`` (+1 row),
    ``"dropped"`` (+0) or ``"kills"`` (the clean twin goes too, -1).
    """
    landed, nulls, keys = 0, 0, set()
    for c in cells:
        key = (ind_name(c.ind), c.area[2], c.year, dims)
        if c.fate == "clean" or (c.fate == "odd" and odd_lands_as == "value"):
            landed += 1
            keys.add(key)
        elif (c.fate == "null" and null_lands) or (
            c.fate == "odd" and odd_lands_as == "null"
        ):
            landed += 1
            nulls += 1
    if dup_fate == "lands":
        landed += n_dups
    elif dup_fate == "kills":
        landed -= n_dups
    return SourceInput(
        name, kind, table, rows_in, landed, nulls, keys,
    )


def _sipri_milex(p: _Planter) -> SourceInput:
    """sipri_milex: wide payload, country NAME x year columns."""
    inds = [f"Military spending series {k} [SIPRI_B{k}]" for k in range(N_INDICATORS)]
    null_cells = {id(c) for c in p.mark(N_NULL, "null")}
    year_cols = [str(y) for y in OUT_OF_WINDOW_YEARS + YEARS]
    wide: dict[tuple, dict] = {}
    for c in p.cells:
        wide.setdefault((c.ind, c.area), {})[str(c.year)] = (
            None if id(c) in null_cells else c.value
        )
    rows = []
    for (k, area), vals in wide.items():
        row = {"Country": area[0], "indicator_name": inds[k], "iso3": area[2]}
        for y in OUT_OF_WINDOW_YEARS:
            row[str(y)] = p.value()
        row.update(vals)
        rows.append(row)
    # duplicate (country, indicator) rows: every in-window cell lands twice
    n_dup_rows = N_DUP // len(YEARS)
    dup_src = [rows[i] for i in p.rng.choice(len(rows), n_dup_rows, replace=False)]
    dups = [
        {**r, **{str(y): p.value() for y in YEARS}} for r in dup_src
    ]
    extra = [
        {"Country": NON_M49[i % 20][0], "indicator_name": inds[i % N_INDICATORS],
         **{c: p.value() for c in year_cols}}
        for i in range(N_NON_M49 // len(year_cols))
    ]
    all_rows = rows + dups + extra
    table = pa.table(
        {
            "Country": [r["Country"] for r in all_rows],
            "indicator_name": [r["indicator_name"] for r in all_rows],
            **{c: pa.array([r[c] for r in all_rows], pa.float64()) for c in year_cols},
        }
    )
    result = _finish(
        "sipri_milex", "payload", table, len(all_rows) * len(year_cols),
        p.cells, "Total", lambda k: inds[k], "lands", False, None,
        n_dup_rows * len(YEARS),
    )
    # a duplicate row also lands the years its twin had null
    result.valid_keys |= {
        (r["indicator_name"], r["iso3"], y, "Total") for r in dup_src for y in YEARS
    }
    return result


def _world_bank_wdi(p: _Planter) -> SourceInput:
    """world_bank_wdi: wide CSV keyed by ISO3."""
    names = [(f"Development measure {k}", f"WDI.B.{k}") for k in range(N_INDICATORS)]
    null_cells = {id(c) for c in p.mark(N_NULL, "null")}
    wide = {}
    for c in p.cells:
        wide.setdefault((c.ind, c.area), {})[c.year] = (
            None if id(c) in null_cells else c.value
        )
    header = ["Country Name", "Country Code", "Indicator Name", "Indicator Code"]
    header += [str(y) for y in OUT_OF_WINDOW_YEARS + YEARS]
    csv_rows = []
    for (k, area), vals in wide.items():
        csv_rows.append(
            [area[0], area[2], *names[k]]
            + [_fmt(p.value()) for _ in OUT_OF_WINDOW_YEARS]
            + [_fmt(vals[y]) for y in YEARS]
        )
    n_dup_rows = N_DUP // len(YEARS)
    dup_src = [csv_rows[i] for i in p.rng.choice(len(csv_rows), n_dup_rows, replace=False)]
    csv_rows += [r[:4] + [_fmt(p.value()) for _ in header[4:]] for r in dup_src]
    for i in range(N_NON_M49 // (len(header) - 4)):
        area = NON_M49[i % 20]
        csv_rows.append(
            [area[0], area[2], *names[i % N_INDICATORS]]
            + [_fmt(p.value()) for _ in header[4:]]
        )
    result = _finish(
        "world_bank_wdi", "csv", _csv_text(header, csv_rows),
        len(csv_rows) * (len(header) - 4), p.cells, "Total",
        lambda k: f"{names[k][0]} [{names[k][1]}]", "lands", False, None,
        n_dup_rows * len(YEARS),
    )
    result.valid_keys |= {
        (f"{r[2]} [{r[3]}]", r[1], y, "Total") for r in dup_src for y in YEARS
    }
    return result


def _world_bank_api(p: _Planter) -> SourceInput:
    """world_bank_api: nested structs."""
    names = [(f"WB.B.{k}", f"Population measure {k}") for k in range(N_INDICATORS)]
    p.mark(N_NULL, "null")
    dup = p.take(N_DUP)
    rows = [
        (c, c.value if c.fate == "clean" else None)
        for c in p.cells
    ] + [(c, p.value()) for c in dup]
    rows += [(c, c.value) for c in p.non_m49(N_NON_M49) + p.out_of_window(N_OUT_OF_WINDOW)]
    table = pa.table(
        {
            "indicator": [{"id": names[c.ind][0], "value": names[c.ind][1]} for c, _ in rows],
            "country": [{"id": c.area[3], "value": c.area[0]} for c, _ in rows],
            "countryiso3code": [c.area[2] for c, _ in rows],
            "date": [str(c.year) for c, _ in rows],
            "value": pa.array([v for _, v in rows], pa.float64()),
        }
    )
    result = _finish(
        "world_bank_api", "payload", table, len(rows), p.cells, "Total",
        lambda k: f"{names[k][1]} [{names[k][0]}]", "lands", False, None, N_DUP,
    )
    return result


def _who_gho_api(p: _Planter) -> SourceInput:
    """who_gho_api: GHO OData rows, null values land."""
    inds = [f"Health observatory indicator {k}" for k in range(N_INDICATORS)]
    p.mark(N_NULL, "null")
    dup = p.take(N_DUP)
    rows = [(c, c.value if c.fate == "clean" else None) for c in p.cells]
    rows += [(c, c.value + 1000.0) for c in dup]
    rows += [(c, c.value) for c in p.non_m49(N_NON_M49) + p.out_of_window(N_OUT_OF_WINDOW)]
    table = pa.table(
        {
            "indicator_name": [inds[c.ind] for c, _ in rows],
            "SpatialDim": [c.area[2] for c, _ in rows],
            "TimeDim": pa.array([c.year for c, _ in rows], pa.int32()),
            "Dim1Type": ["SEX"] * len(rows),
            "Dim1": ["SEX_FMLE"] * len(rows),
            "Dim2Type": pa.nulls(len(rows), pa.string()),
            "Dim2": pa.nulls(len(rows), pa.string()),
            "Dim3Type": pa.nulls(len(rows), pa.string()),
            "Dim3": pa.nulls(len(rows), pa.string()),
            "DataSourceDim": pa.nulls(len(rows), pa.string()),
            "NumericValue": pa.array([v for _, v in rows], pa.float64()),
        }
    )
    result = _finish(
        "who_gho_api", "payload", table, len(rows), p.cells, "FMLE",
        lambda k: inds[k], "dropped", True, None, N_DUP,
    )
    return result


def _unstats_sdg_api(p: _Planter) -> SourceInput:
    """unstats_sdg_api: M49 codes, string values, map columns."""
    p.mark(N_NULL, "null")
    nan = {id(c) for c in p.mark(N_ODD // 2, "null")}  # "NaN" is dropped too
    p.mark(N_ODD // 2, "odd")  # "<x" casts to null and lands
    dup = p.take(N_DUP)

    def sdg_value(c):
        if c.fate == "clean":
            return f"{c.value}"
        if c.fate == "odd":
            return f"<{c.value}"
        return "NaN" if id(c) in nan else None

    rows = [(c, sdg_value(c)) for c in p.cells]
    rows += [(c, f"{p.value()}") for c in dup]
    rows += [
        (c, f"{c.value}")
        for c in p.non_m49(N_NON_M49) + p.out_of_window(N_OUT_OF_WINDOW)
    ]
    map_t = pa.map_(pa.string(), pa.string())
    table = pa.table(
        {
            "geoAreaCode": [c.area[1] for c, _ in rows],
            "timePeriodStart": [str(c.year) for c, _ in rows],
            "value": [v for _, v in rows],
            "seriesDescription": [f"Goal series {c.ind}" for c, _ in rows],
            "series": [f"SG_B_{c.ind}" for c, _ in rows],
            "attributes": pa.array([[("Units", "PERCENT")]] * len(rows), map_t),
            "dimensions": pa.array([[("Sex", "FEMALE")]] * len(rows), map_t),
        }
    )
    result = _finish(
        "unstats_sdg_api", "payload", table, len(rows), p.cells, "FEMALE",
        lambda k: f"Goal series {k}, PERCENT [SG_B_{k}]", "lands", False, "null",
        N_DUP,
    )
    return result


def _unstats_sdg_database(p: _Planter) -> SourceInput:
    """unstats_sdg_database: bulk CSV, "<x" parses, exact dups drop."""
    p.mark(N_NULL, "null")
    p.mark(N_ODD, "odd")
    dup = p.take(N_DUP)
    header = [
        "Goal", "Target", "Indicator", "SeriesCode", "SeriesDescription",
        "GeoAreaCode", "GeoAreaName", "TimePeriod", "Value", "Source",
        "Units", "Sex", "Age",
    ]

    def sdgdb_row(c, value):
        return [
            "1", "1.1", "1.1.1", f"SI_B_{c.ind}", f"Headcount series {c.ind}",
            c.area[1], c.area[0], c.year, value, "WB", "PERCENT", "Female",
            "ALLAGE",
        ]

    def sdgdb_value(c):
        return {"clean": _fmt(c.value), "odd": f"<{c.value:.3f}", "null": ""}[c.fate]

    csv_rows = [sdgdb_row(c, sdgdb_value(c)) for c in p.cells]
    csv_rows += [sdgdb_row(c, _fmt(c.value)) for c in dup]  # exact copies
    csv_rows += [
        sdgdb_row(c, _fmt(c.value))
        for c in p.non_m49(N_NON_M49) + p.out_of_window(N_OUT_OF_WINDOW)
    ]
    result = _finish(
        "unstats_sdg_database", "csv", _csv_text(header, csv_rows),
        len(csv_rows), p.cells, "Female; ALLAGE",
        lambda k: f"Headcount series {k} [SI_B_{k}]", "dropped", False, "value",
        N_DUP,
    )
    return result


def _unicef_sdmx_api(p: _Planter) -> SourceInput:
    """unicef_sdmx_api: SDMX strings, "<x" parses."""
    p.mark(N_NULL, "null")
    p.mark(N_ODD, "odd")
    dup = p.take(N_DUP)

    def unicef_value(c):
        return {"clean": f"{c.value}", "odd": f"<{c.value}", "null": None}[c.fate]

    rows = [(c, unicef_value(c)) for c in p.cells]
    rows += [(c, f"{p.value()}") for c in dup]
    rows += [
        (c, f"{c.value}")
        for c in p.non_m49(N_NON_M49) + p.out_of_window(N_OUT_OF_WINDOW)
    ]
    n = len(rows)
    table = pa.table(
        {
            "REF_AREA": [c.area[2] for c, _ in rows],
            "Indicator": [f"Child wellbeing {c.ind}" for c, _ in rows],
            "Unit of measure": ["percent"] * n,
            "INDICATOR": [f"CW_B_{c.ind}" for c, _ in rows],
            "Sex": ["Female"] * n,
            "Current age": ["Under 5"] * n,
            "TIME_PERIOD": [str(c.year) for c, _ in rows],
            "OBS_VALUE": [v for _, v in rows],
            "DATA_SOURCE": ["Admin"] * n,
            "SOURCE_LINK": pa.nulls(n, pa.string()),
        }
    )
    result = _finish(
        "unicef_sdmx_api", "payload", table, n, p.cells, "Female; Under 5",
        lambda k: f"Child wellbeing {k}, percent [CW_B_{k}]", "lands", False,
        "value", N_DUP,
    )
    return result


def _ilo_sdmx_api(p: _Planter) -> SourceInput:
    """ilo_sdmx_api: SDMX rows with float values."""
    inds =[f"Employment series {k} [EMP_B{k}]" for k in range(N_INDICATORS)]
    p.mark(N_NULL, "null")
    dup = p.take(N_DUP)
    rows = [(c, c.value if c.fate == "clean" else None) for c in p.cells]
    rows += [(c, p.value()) for c in dup]
    rows += [(c, c.value) for c in p.non_m49(N_NON_M49) + p.out_of_window(N_OUT_OF_WINDOW)]
    n = len(rows)
    table = pa.table(
        {
            "FREQ": ["A"] * n,
            "REF_AREA": [c.area[2] for c, _ in rows],
            "indicator_name": [inds[c.ind] for c, _ in rows],
            "SEX": ["SEX_F"] * n,
            "AGE": ["AGE_AGGREGATE_Y25-54"] * n,
            "TIME_PERIOD": [str(c.year) for c, _ in rows],
            "OBS_VALUE": pa.array([v for _, v in rows], pa.float64()),
            "SOURCE": ["S1"] * n,
            "UNIT_MEASURE_TYPE": ["NB"] * n,
        }
    )
    return _finish(
        "ilo_sdmx_api", "payload", table, n, p.cells,
        "SEX_F; AGE_AGGREGATE_Y25-54", lambda k: inds[k], "lands", False, None,
        N_DUP,
    )


def _imf_datamapper_api(p: _Planter) -> SourceInput:
    """imf_datamapper_api: country rows with a year->value map."""
    inds = [f"Macro outlook {k} [MO_B{k}]" for k in range(N_INDICATORS)]
    null_cells = {id(c) for c in p.mark(N_NULL, "null")}
    maps: dict[tuple, list] = {}
    for c in p.cells:
        maps.setdefault((c.ind, c.area[2]), []).append(
            (str(c.year), None if id(c) in null_cells else f"{c.value}")
        )
    for c in p.out_of_window(N_OUT_OF_WINDOW):
        maps[(c.ind, c.area[2])].append((str(c.year), f"{c.value}"))
    rows = [(k, iso, entries) for (k, iso), entries in maps.items()]
    # duplicate rows: a second map for an existing series, one year each
    for c in p.take(N_DUP):
        rows.append((c.ind, c.area[2], [(str(c.year), f"{p.value()}")]))
    for c in p.non_m49(N_NON_M49):
        rows.append((c.ind, c.area[2], [(str(c.year), f"{c.value}")]))
    table = pa.table(
        {
            "indicator_name": [inds[k] for k, _, _ in rows],
            "country_code": [iso for _, iso, _ in rows],
            "values": pa.array([e for _, _, e in rows], pa.map_(pa.string(), pa.string())),
        }
    )
    result = _finish(
        "imf_datamapper_api", "payload", table,
        sum(len(e) for _, _, e in rows), p.cells, "Total", lambda k: inds[k],
        "lands", True, None, N_DUP,
    )
    return result


def _unaids_kpatlas(p: _Planter) -> SourceInput:
    """unaids_kpatlas: conflicting keys drop entirely."""
    p.mark(N_NULL, "null")
    dup = p.take(N_DUP)
    rows = [(c, c.value if c.fate == "clean" else None) for c in p.cells]
    rows += [(c, c.value + 1000.0) for c in dup]
    rows += [(c, c.value) for c in p.non_m49(N_NON_M49) + p.out_of_window(N_OUT_OF_WINDOW)]
    n = len(rows)
    table = pa.table(
        {
            "Indicator": [f"HIV estimate {c.ind}" for c, _ in rows],
            "Area ID": [c.area[2] for c, _ in rows],
            "Time Period": pa.array([c.year for c, _ in rows], pa.int64()),
            "Data value": pa.array([v for _, v in rows], pa.float64()),
            "Source": ["Report"] * n,
            "Subgroup": ["Total"] * n,
            "Unit": ["pct"] * n,
        }
    )
    result = _finish(
        "unaids_kpatlas", "payload", table, n, p.cells, "Total",
        lambda k: f"HIV estimate {k}, pct", "kills", False, None, N_DUP,
    )
    for c in dup:
        result.valid_keys.discard((f"HIV estimate {c.ind}, pct", c.area[2], c.year, "Total"))
    return result


def _healthdata_ghdx(p: _Planter) -> SourceInput:
    """healthdata_ghdx: bulk CSV by location name, nulls land."""
    p.mark(N_NULL, "null")
    dup = p.take(N_DUP)
    header = [
        "location_name", "measure_name", "metric_name", "sex_name",
        "age_name", "cause_name", "year", "val",
    ]

    def ghdx_row(c, value):
        return [
            c.area[0], f"Burden {c.ind}", "Rate", "Both sexes", "15-49 years",
            "All causes", c.year, _fmt(value),
        ]

    csv_rows = [ghdx_row(c, c.value if c.fate == "clean" else None) for c in p.cells]
    csv_rows += [ghdx_row(c, p.value()) for c in dup]
    csv_rows += [
        ghdx_row(c, c.value)
        for c in p.non_m49(N_NON_M49) + p.out_of_window(N_OUT_OF_WINDOW)
    ]
    result = _finish(
        "healthdata_ghdx", "csv", _csv_text(header, csv_rows), len(csv_rows),
        p.cells, "Both; 15-49 years; All causes", lambda k: f"Rate of Burden {k}",
        "lands", True, None, N_DUP,
    )
    return result


def _energydata_info(p: _Planter) -> SourceInput:
    """energydata_info: one indicator, (technology, grid) dimensions."""
    # No null values here: the transformer forward-fills them.
    from dfx_indicators_etl_spark.pipelines.energydata_info import INDICATOR_NAME

    techs = [("Solar", "On-grid"), ("Solar", "Off-grid"), ("Wind", "On-grid"),
             ("Hydro", "On-grid"), ("Bioenergy", "On-grid"), ("Geothermal", "Off-grid")]
    dup = p.take(N_DUP)
    rows = list(p.cells) + dup  # exact copies: dropDuplicates removes them
    rows += p.non_m49(N_NON_M49) + p.out_of_window(N_OUT_OF_WINDOW)
    table = pa.table(
        {
            "_row_id": pa.array(range(len(rows)), pa.int64()),
            "c": [c.area[0] for c in rows],
            "tech": [techs[c.ind][0] for c in rows],
            "grid": [techs[c.ind][1] for c in rows],
            "y": pa.array([c.year for c in rows], pa.int64()),
            "v": pa.array([c.value for c in rows], pa.float64()),
        }
    )
    energy = SourceInput("energydata_info", "payload", table, len(rows),
                         len(p.cells), 0)
    energy.valid_keys = {
        (INDICATOR_NAME, c.area[2], c.year, f"{techs[c.ind][0]}; {techs[c.ind][1]}")
        for c in p.cells
    }
    return energy


# (name, build function) for every source of ``pipelines.SOURCES``; the position
# seeds the source's own generator, so its inputs do not depend on which
# other sources are built.
_SOURCES = (
    ("sipri_milex", _sipri_milex),
    ("world_bank_wdi", _world_bank_wdi),
    ("world_bank_api", _world_bank_api),
    ("who_gho_api", _who_gho_api),
    ("unstats_sdg_api", _unstats_sdg_api),
    ("unstats_sdg_database", _unstats_sdg_database),
    ("unicef_sdmx_api", _unicef_sdmx_api),
    ("ilo_sdmx_api", _ilo_sdmx_api),
    ("imf_datamapper_api", _imf_datamapper_api),
    ("unaids_kpatlas", _unaids_kpatlas),
    ("healthdata_ghdx", _healthdata_ghdx),
    ("energydata_info", _energydata_info),
)


def etl_sources(seed: int, names=None) -> dict[str, SourceInput]:
    """Raw inputs for the sources in ``names`` (default: all twelve);
    see the module docstring."""
    areas = m49_areas()
    return {
        name: build(_Planter(seed, i, areas))
        for i, (name, build) in enumerate(_SOURCES)
        if names is None or name in names
    }


def prior_release(seed: int, sources: dict[str, SourceInput]) -> list[tuple]:
    """Canonical rows of the previous release (unique series keys).

    Half of the new release's valid keys are re-reported with older
    values; a further set of series years (2010-2014) exists only in
    the prior release, so the upsert must keep them.
    """
    rng = np.random.default_rng([seed, 99])
    rows = []
    for name in sorted(sources):
        keys = sorted(sources[name].valid_keys)
        pick = rng.choice(len(keys), len(keys) // 2, replace=False)
        for i in sorted(pick):
            ind, iso, year, dim = keys[i]
            rows.append((name, ind, iso, year, dim, round(float(rng.lognormal(3, 1)), 3)))
            if year == YEARS[0]:
                for old in range(2010, 2015):
                    rows.append((name, ind, iso, old, dim, round(float(rng.lognormal(3, 1)), 3)))
    return rows


# --- query star -----------------------------------------------------------

Q_INDICATORS = 80
Q_YEARS = list(range(1990, 2024))
Q_DIMENSIONS = ("Total", "Female", "Male")
Q_DENSITY = 0.75


def q_indicator_names() -> list[str]:
    return [f"Panel indicator {k:03d}" for k in range(Q_INDICATORS)]


def query_observations(seed: int):
    """Sparse canonical panel for the query star, as a pyarrow table.

    Every M49 country x ``Q_INDICATORS`` x ``Q_DIMENSIONS`` x
    ``Q_YEARS``, each cell present with probability ``Q_DENSITY`` but
    the total fixed (the seed picks which cells), so series have gaps
    for the gap-fill query to bridge. Values are positive, so a rebase
    never divides by zero.
    """
    rng = np.random.default_rng([seed, 7])
    areas = m49_areas()
    n_i, n_c, n_d, n_y = Q_INDICATORS, len(areas), len(Q_DIMENSIONS), len(Q_YEARS)
    total = n_i * n_c * n_d * n_y
    keep = np.sort(rng.choice(total, int(total * Q_DENSITY), replace=False))
    i, rest = np.divmod(keep, n_c * n_d * n_y)
    c, rest = np.divmod(rest, n_d * n_y)
    d, y = np.divmod(rest, n_y)
    def coded(codes, labels):
        return pa.DictionaryArray.from_arrays(codes.astype(np.int32), pa.array(labels))

    return pa.table(
        {
            "provider": coded(np.zeros(len(keep)), ["panel"]),
            "indicator_name": coded(i, q_indicator_names()),
            "country_code": coded(c, [a[2] for a in areas]),
            "year": pa.array((np.array(Q_YEARS)[y]).astype(np.int32)),
            "dimension": coded(d, list(Q_DIMENSIONS)),
            "value": pa.array(np.round(rng.lognormal(3.0, 1.0, len(keep)), 3)),
            "source": pa.nulls(len(keep), pa.string()),
        }
    )


# --- corpus ---------------------------------------------------------------

N_DOCS = 12_000
DOC_TOKENS = 80
N_LOW_QUALITY = 600
N_EXACT_CLUSTERS, EXACT_COPIES = 200, 3
N_NEAR_CLUSTERS, NEAR_COPIES, NEAR_EDITS = 300, 4, 2
STOP = ("the", "of", "and", "to", "in", "a", "is", "that", "for", "it")


@dataclass
class Corpus:
    table: object  # pyarrow.Table (doc_id, text)
    n_docs: int
    expected_kept: int  # documents passing quality_filter
    exact_clusters: int  # groups with more than one copy
    exact_docs: int  # documents inside those groups
    near_pairs: set  # planted near-duplicate pairs (a < b)


def corpus(seed: int) -> Corpus:
    """Synthetic English-like documents with planted duplicates.

    Background docs draw ``DOC_TOKENS`` words from a 4000-word
    vocabulary, so two of them share almost no 3-shingles. Low-quality
    docs are digit runs (alpha ratio far below the filter's 0.55).
    Exact clusters copy a doc verbatim; near clusters substitute
    ``NEAR_EDITS`` words per copy, which keeps 3-shingle Jaccard near
    0.9 — far above the LSH threshold.
    """
    rng = np.random.default_rng([seed, 13])
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    vocab = sorted(
        {"".join(rng.choice(letters, rng.integers(3, 9))) for _ in range(4200)}
        - set(STOP)
    )[:4000]
    vocab = np.array(list(STOP) + vocab)
    weights = np.r_[np.full(len(STOP), 8.0), np.ones(len(vocab) - len(STOP))]
    weights /= weights.sum()

    def words():
        return list(rng.choice(vocab, DOC_TOKENS, p=weights))

    n_background = (
        N_DOCS
        - N_LOW_QUALITY
        - N_EXACT_CLUSTERS * EXACT_COPIES
        - N_NEAR_CLUSTERS * NEAR_COPIES
    )
    texts: list[str] = []
    kinds: list[str] = []
    for _ in range(n_background):
        texts.append(" ".join(words()))
        kinds.append("bg")
    for _ in range(N_LOW_QUALITY):
        texts.append(" ".join(str(x) for x in rng.integers(0, 10**6, 12)))
        kinds.append("low")
    exact_sets = []
    for _ in range(N_EXACT_CLUSTERS):
        t = " ".join(words())
        exact_sets.append(list(range(len(texts), len(texts) + EXACT_COPIES)))
        texts += [t] * EXACT_COPIES
        kinds += ["exact"] * EXACT_COPIES
    near_sets = []
    for _ in range(N_NEAR_CLUSTERS):
        base = words()
        ids = []
        for j in range(NEAR_COPIES):
            w = list(base)
            if j:
                for pos in rng.choice(DOC_TOKENS, NEAR_EDITS, replace=False):
                    w[pos] = rng.choice(vocab[len(STOP):])
            ids.append(len(texts))
            texts.append(" ".join(w))
            kinds.append("near")
        near_sets.append(ids)
    # shuffle positions so clusters do not sit in one partition
    perm = rng.permutation(len(texts))
    doc_id = np.empty(len(texts), dtype=np.int64)
    doc_id[perm] = np.arange(len(texts), dtype=np.int64) * 7 + 1
    near_clusters = [sorted(int(doc_id[i]) for i in ids) for ids in near_sets]
    near_pairs = {
        (a, b) for ids in near_clusters for i, a in enumerate(ids) for b in ids[i + 1:]
    }
    table = pa.table(
        {"doc_id": pa.array(doc_id), "text": pa.array(texts)}
    )
    return Corpus(
        table=table,
        n_docs=len(texts),
        expected_kept=len(texts) - N_LOW_QUALITY,
        exact_clusters=N_EXACT_CLUSTERS,
        exact_docs=N_EXACT_CLUSTERS * EXACT_COPIES,
        near_pairs=near_pairs,
    )
