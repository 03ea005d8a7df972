"""Seeded synthetic INE corpus: 87 narrow observation CSVs in the 13 shapes
of FIXTURES.md.

Every file carries the dirt the pipeline has to survive: flag columns in
three casings (absent from the dirty ``nox_perc95`` file), the
``DTI_CL_MES``/``Año`` mismatched pair, sparse stations with one or two
records, a NULL and a ``''`` station, duplicate (period, station) rows with
different values, an empty value, and
(period, station) coverage that differs between members of one view.

The same seed always gives the same bytes; nothing here imports the
program.
"""

from __future__ import annotations

import os

import numpy as np

# shape -> (period code, period label, period kind, entity (code, label) pairs)
SHAPES: dict[str, tuple[str, str, str, tuple[tuple[str, str], ...]]] = {
    "air_annual": ("DTI_CL_ANO", "Año", "year",
                   (("DTI_CL_EST_MONITOREO_AIRE", "Estaciones de monitoreo del aire"),)),
    "air_monthly": ("DTI_CL_MES", "Mes", "month",
                    (("DTI_CL_EST_MONITOREO_AIRE", "Estaciones de monitoreo del aire"),)),
    "dirty_nox": ("DTI_CL_MES", "Año", "year",
                  (("DTI_CL_EST_MONITOREO_AIRE", "Estaciones de monitoreo del aire"),)),
    "meteo_monthly": ("DTI_CL_MES", "Mes", "month",
                      (("DTI_CL_ESTACIONES_METEO", "Estaciones meteorológicas DMC"),)),
    "glacier_annual": ("DTI_CL_ANO", "Año", "year", (("DTI_CL_CUENCAS", "Cuencas"),)),
    "sea_monthly": ("DTI_CL_MES", "Mes", "month",
                    (("CL_T017ESTACION_SHOA", "Estación ambiental SHOA"),)),
    "poal_param_daily": ("DTI_CL_DIA", "Día", "day",
                         (("DTI_CL_T013EST_POAL", "Estaciones POAL"),
                          ("DTI_CL_T014PARAM_POAL", "Parámetros POAL"))),
    "poal_daily": ("DTI_CL_DIA", "Día", "day", (("DTI_CL_T013EST_POAL", "Estaciones POAL"),)),
    "river_monthly": ("DTI_CL_MES", "Mes", "month",
                      (("DTI_CL_AGUAS_CORRIENTES", "Aguas Corrientes"),
                       ("DTI_CL_ESTACIONES_FLUVIOMETRICAS", "Estaciones Fluviométricas"))),
    "snow_daily": ("DTI_CL_DIA", "Día", "day",
                   (("DTI_CL_T010EST_NIVO", "Estaciones nivométricas"),)),
    "well_daily": ("DTI_CL_DIA", "Día", "day",
                   (("DTI_CL_T009ESTACION_POZO", "Estaciones Pozo"),)),
    "evap_monthly": ("DTI_CL_MES", "Mes", "month", (("DTI_CL_ESTACION", "Estación"),)),
    "reservoir_monthly": ("DTI_CL_MES", "Mes", "month", (("DTI_CL_EMBALSE", "Embalse"),)),
}

_POLLUTANT_PERCS = {"mp25": (50, 90, 95, 98), "mp10": (50, 90, 95, 98)}
_POLLUTANTS = ("mp25", "mp10", "o3", "so2", "no2", "co", "no", "nox")


def _datasets() -> dict[str, str]:
    """The 87 INE dataset names -> shape."""
    out: dict[str, str] = {}
    for p in _POLLUTANTS:
        out[f"{p}_max_hor_anual"] = "air_annual"
        out["so2_min_anual" if p == "so2" else f"{p}_min_hor_anual"] = "air_annual"
        for q in _POLLUTANT_PERCS.get(p, (50, 90, 95, 98, 99)):
            out[f"{p}_perc{q}"] = "air_annual"
        out[f"{p}_med_mens"] = "air_monthly"
    out["nox_perc95"] = "dirty_nox"
    for name in ("temp_max_absoluta", "temp_min_absoluta", "temp_max_med",
                 "temp_min_med", "temp_med", "humedad_rel_med_mens",
                 "rad_global_med", "uvb_prom", "num_eventos_de_olas_de_calor",
                 "cantidad_de_agua_caida"):
        out[name] = "meteo_monthly"
    for name in ("num_glaciares_por_cuenca", "superficie_de_glaciares_por_cuenca",
                 "volumen_de_hielo_glaciar_estimado_por_cuenca",
                 "volumen_de_agua_de_glaciares_estimada_por_cuenca"):
        out[name] = "glacier_annual"
    out["temp_superficial_del_mar"] = "sea_monthly"
    out["nivel_medio_del_mar"] = "sea_monthly"
    out["coliformes_fecales_en_matriz_biologica"] = "poal_daily"
    out["coliformes_fecales_en_matriz_acuosa"] = "poal_daily"
    out["metales_totales_en_la_matriz_sedimentaria"] = "poal_param_daily"
    out["metales_disueltos_en_la_matriz_acuosa"] = "poal_param_daily"
    out["caudal_medio_de_aguas_corrientes"] = "river_monthly"
    out["evaporacion_real_por_estacion"] = "evap_monthly"
    out["volumen_del_embalse_por_embalse"] = "reservoir_monthly"
    out["altura_nieve_equivalente_en_agua"] = "snow_daily"
    out["nivel_estatico_de_aguas_subterraneas"] = "well_daily"
    return out


DATASETS = _datasets()

_FLAG_CASINGS = (("Flag Codes", "Flags"), ("flag codes", "flags"), ("FLAG CODES", "FLAGS"))
_MESES = ("Enero", "Febrero", "Marzo", "Abril", "Mayo", "Junio", "Julio",
          "Agosto", "Septiembre", "Octubre", "Noviembre", "Diciembre")
N_ENTITIES = 10
SPARSE_STATION = "RARA"


def _periods(kind: str) -> list[tuple[int, str]]:
    if kind == "year":
        return [(y, str(y)) for y in range(2012, 2024)]
    if kind == "month":
        return [(y * 100 + m, f"{_MESES[m - 1]} {y}")
                for y in (2022, 2023) for m in range(1, 13)]
    return [(20230100 + d, f"{d} Ene") for d in range(1, 31)]


def _cell(v: str) -> str:
    return f'"{v}"' if ("," in v or '"' in v) else v


def _rows(rng: np.random.Generator, shape: str) -> list[list[str]]:
    _, _, kind, entities = SHAPES[shape]
    periods = _periods(kind)
    prefix = entities[0][0].rsplit("_", 1)[-1][:4]
    stations = [f"{prefix}_{i:02d}" for i in range(N_ENTITIES)]
    coverage = rng.uniform(0.55, 0.95)
    rows: list[list[str]] = []

    def row(period, station, value):
        code, label = period
        out = [str(code), label]
        for j, _ in enumerate(entities):
            if j == 0:
                s = station
                out += [s, "" if s in ("", "''") else f"Estación {s}"]
            else:
                e = f"P{int(rng.integers(0, 3))}"
                out += [e, f"Parámetro {e}"]
        return out + [value]

    for p in periods:
        for s in stations:
            if rng.random() < coverage:
                rows.append(row(p, s, f"{rng.uniform(0, 500):.2f}"))
    # dirt: a sparse station, NULL and '' stations, duplicates, an empty value
    for p in periods[: int(rng.integers(1, 3))]:
        rows.append(row(p, f"{prefix}_{SPARSE_STATION}", f"{rng.uniform(0, 500):.2f}"))
    rows.append(row(periods[0], "", f"{rng.uniform(0, 500):.2f}"))
    rows.append(row(periods[1], "''", f"{rng.uniform(0, 500):.2f}"))
    for _ in range(2):
        dup = list(rows[int(rng.integers(0, len(rows) - 4))])
        dup[-1] = f"{rng.uniform(0, 500):.2f}"
        rows.append(dup)
    rows.append(row(periods[-1], stations[1], ""))
    order = rng.permutation(len(rows))
    return [rows[i] for i in order]


def render_csv(seed: int, index: int, name: str) -> str:
    """One dataset's CSV text; a pure function of (seed, index, name)."""
    shape = DATASETS[name]
    rng = np.random.default_rng([seed, index])
    pcode, plabel, _, entities = SHAPES[shape]
    header = [pcode, plabel]
    for code, label in entities:
        header += [code, label]
    header.append("Value")
    flags = () if shape == "dirty_nox" else _FLAG_CASINGS[index % len(_FLAG_CASINGS)]
    header += list(flags)
    lines = [",".join(header)]
    for r in _rows(rng, shape):
        r = r + ["E" if rng.random() < 0.05 else "" for _ in flags]
        lines.append(",".join(_cell(c) for c in r))
    return "\n".join(lines) + "\n"


def generate(seed: int, out_dir: str) -> dict[str, str]:
    """Write all 87 CSVs under ``out_dir``; return dataset -> path."""
    os.makedirs(out_dir, exist_ok=True)
    paths = {}
    for i, name in enumerate(sorted(DATASETS)):
        path = os.path.join(out_dir, f"{name}.csv")
        with open(path, "w", encoding="utf-8", newline="") as f:
            f.write(render_csv(seed, i, name))
        paths[name] = path
    return paths


def station_column(name: str) -> str:
    """The first entity code column of a dataset: the station of every
    shape a consolidated view uses."""
    return SHAPES[DATASETS[name]][3][0][0]


def period_column(name: str) -> str:
    """The period code column of a dataset."""
    return SHAPES[DATASETS[name]][0]
