"""Seeded detenidos-shaped CSV resources for the ``etl`` workload.

The resources follow FIXTURES.md §A at the reference's width: the 37
contract columns under their raw (accented, spaced) headers, in three
messiness variants:

- ``clean``: canonical headers in row 0 and no ``Año`` column, so the
  contract derives ``ano`` from the detention date.
- ``offset``: two junk title rows above the header, ``Unnamed: N``
  columns, one all-null column, and no ``Latitud``/``Longitud``.
- ``drifted``: two unexpected columns (``Observaciones``, ``Fiscalía``)
  and duplicated business keys.

Every row carries a distinct business key, except the duplicates planted
in ``drifted``, so the expected table size is the number of distinct keys
the generator drew.
"""

from __future__ import annotations

import csv
import json
import os

import numpy as np

# (raw header, kind) in the reference's column order; the kind picks the
# value generator below
COLUMNS: list[tuple[str, str]] = [
    ("Código_ICCS", "iccs"),
    ("Fecha Detención Aprehensión", "fecha"),
    ("Hora Detención Aprehensión", "hora"),
    ("Tipo", "tipo"),
    ("Presunta Infracción", "infraccion"),
    ("Estado Civil", "estado_civil"),
    ("Estatus Migratorio", "migratorio"),
    ("Edad", "edad"),
    ("Sexo", "sexo"),
    ("Género", "text"),
    ("Nacionalidad", "text"),
    ("Autoidentificación Étnica", "text"),
    ("Nivel de Instrucción", "text"),
    ("Condición", "text"),
    ("Movilización", "text"),
    ("Tipo Arma", "text"),
    ("Arma", "text"),
    ("Lugar", "text"),
    ("Tipo Lugar", "text"),
    ("Nombre Zona", "text"),
    ("Nombre Subzona", "text"),
    ("Nombre Distrito", "text"),
    ("Nombre Circuito", "text"),
    ("Nombre Subcircuito", "text"),
    ("Código Distrito", "dcode"),
    ("Código Circuito", "dcode"),
    ("Código Subcircuito", "dcode"),
    ("Código Provincia", "prov"),
    ("Código Cantón", "canton"),
    ("Código Parroquia", "parroquia"),
    ("Nombre Provincia", "nprov"),
    ("Nombre Cantón", "text"),
    ("Nombre Parroquia", "text"),
    ("Latitud", "lat"),
    ("Longitud", "lon"),
    ("Grupo Edad", "grupo"),
    ("Año", "ano"),
]
EXTRA_COLUMNS = ["Observaciones", "Fiscalía"]

_PROVINCIAS = ["Azuay", "Guayas", "Pichincha", "Manabí", "Loja", "El Oro"]
_WORDS = ["ROBO", "HURTO", "Agravado", "tentativa", "Quito", "Norte", "Sur",
          "Centro", "Vía pública", "DOMICILIO", "Ecuatoriana", "mestizo"]


def _values(kind: str, rng, n: int, keys: dict[str, np.ndarray], year: int):
    if kind == "iccs":
        return [f"{k:06d}" for k in keys["iccs"]]
    if kind == "fecha":
        # the key's day, rendered in one of three formats the contract
        # coerces to the same timestamp
        out = []
        for d, fmt in zip(keys["day"], rng.integers(0, 3, n)):
            date = np.datetime64(f"{year}-01-01") + np.timedelta64(int(d), "D")
            y, m, dd = str(date).split("-")
            out.append([f"{y}-{m}-{dd}", f"{dd}/{m}/{y}", f"{y}-{m}-{dd} 00:00:00"][fmt])
        return out
    if kind == "hora":
        return [f"{h:02d}:{m:02d}" for h, m in zip(rng.integers(0, 24, n), rng.integers(0, 60, n))]
    if kind == "tipo":
        return list(np.array(["DETENIDO", "APREHENDIDO", "detenido"])[rng.integers(0, 3, n)])
    if kind == "infraccion":
        return list(np.array(["ROBO AGRAVADO", "HURTO", "TENTATIVA DE ASESINATO",
                              "Tráfico ilícito"])[rng.integers(0, 4, n)])
    if kind == "estado_civil":
        return list(np.array(["SOLTERO", "Casado", "N/A", "null", "UNIÓN LIBRE"])[rng.integers(0, 5, n)])
    if kind == "migratorio":
        return list(np.array(["REGULAR", "irregular", "NA"])[rng.integers(0, 3, n)])
    if kind == "edad":
        e = rng.integers(14, 80, n).astype(str)
        bad = rng.random(n)
        e = np.where(bad < 0.02, "250", np.where(bad < 0.04, "-3", np.where(bad < 0.06, "NA", e)))
        return list(e)
    if kind == "sexo":
        return list(np.array(["m", "M", "f", "FEMENINO", "Femenino", "x"])[rng.integers(0, 6, n)])
    if kind == "text":
        w = np.array(_WORDS)
        return [f"{w[a]} {w[b]}" for a, b in zip(rng.integers(0, len(w), n), rng.integers(0, len(w), n))]
    if kind == "dcode":
        return [f"{p:02d}D{d:02d}" for p, d in zip(keys["prov"], rng.integers(1, 9, n))]
    if kind == "prov":
        return [f"{p:02d}" for p in keys["prov"]]
    if kind == "canton":
        return [f"{p:02d}{c:02d}" for p, c in zip(keys["prov"], keys["canton"])]
    if kind == "parroquia":
        return [f"{p:02d}{c:02d}{q:02d}" for p, c, q in
                zip(keys["prov"], keys["canton"], rng.integers(1, 20, n))]
    if kind == "nprov":
        return [_PROVINCIAS[p % len(_PROVINCIAS)] for p in keys["prov"]]
    if kind == "lat":
        v = np.round(rng.uniform(-5.0, 1.5, n), 6)
        return list(np.where(rng.random(n) < 0.03, 10.0, v).astype(str))
    if kind == "lon":
        v = np.round(rng.uniform(-92.0, -75.0, n), 6)
        return list(np.where(rng.random(n) < 0.03, -100.0, v).astype(str))
    if kind == "grupo":
        return list(np.array(["18-25", "26-35", "36-45", "46-65"])[rng.integers(0, 4, n)])
    if kind == "ano":
        return [""] * n  # present but empty: the contract derives it
    raise ValueError(kind)


# kept at every width of the column-count sweep: the business key and the
# contract's critical columns
_ALWAYS = ("iccs", "fecha", "infraccion", "prov", "canton", "nprov")


def sweep_columns(width: int) -> list[tuple[str, str]]:
    """The first ``width`` columns, business key and critical ones first."""
    first = [c for c in COLUMNS if c[1] in _ALWAYS]
    return (first + [c for c in COLUMNS if c[1] not in _ALWAYS])[:width]


def draw_keys(rng, n: int, first_iccs: int) -> dict[str, np.ndarray]:
    """Distinct (iccs, day, provincia, canton) tuples: iccs is unique per
    row, so every row's business key is distinct."""
    return {
        "iccs": np.arange(first_iccs, first_iccs + n),
        "day": rng.integers(0, 365, n),
        "prov": rng.integers(1, 25, n),
        "canton": rng.integers(1, 15, n),
    }


def _write(path: str, header: list[str], cols: list[list[str]], junk_rows: int = 0) -> None:
    with open(path, "w", newline="", encoding="utf-8") as f:
        w = csv.writer(f)
        if junk_rows:
            # title rows above the real header: pandas reads the first one
            # as the header, so every column but the first is "Unnamed: N"
            w.writerow(["REGISTRO DE DETENIDOS Y APREHENDIDOS"] + [""] * (len(header) - 1))
            w.writerow(["Fuente: Ministerio del Interior"] + [""] * (len(header) - 1))
        w.writerow(header)
        w.writerows(zip(*cols))


def write_resource(
    path: str, variant: str, rng, keys: dict[str, np.ndarray], year: int,
    width: int | None = None,
) -> None:
    """Write one resource whose rows carry ``keys``.

    ``width`` keeps ``sweep_columns(width)`` (the raw column-count sweep
    in NOTES.md); ``None`` is the reference width."""
    rows = len(keys["iccs"])
    columns = COLUMNS if width is None else sweep_columns(width)
    if variant == "clean":
        columns = [c for c in columns if c[1] != "ano"]
    elif variant == "offset":
        columns = [c for c in columns if c[1] not in ("lat", "lon")]
    header = [h for h, _ in columns]
    cols = [_values(kind, rng, rows, keys, year) for _, kind in columns]
    junk = 0
    if variant == "offset":
        header += ["", "Columna vacía"]
        cols += [[""] * rows, [""] * rows]
        junk = 2
    elif variant == "drifted":
        header += EXTRA_COLUMNS
        cols += [_values("text", rng, rows, keys, year), [f"F-{i}" for i in range(rows)]]
        # duplicated business keys: every 20th row appears twice
        dup = list(range(0, rows, 20))
        cols = [c + [c[i] for i in dup] for c in cols]
    _write(path, header, cols, junk_rows=junk)


def _resource(rid: str, out_dir: str, name: str, version: int) -> dict:
    return {
        "id": rid,
        "path": name,
        "last_modified": f"2025-0{version}-01T00:00:00Z",
        "size": os.path.getsize(os.path.join(out_dir, name)),
        "url": f"file://{rid}",
        "format": "CSV",
    }


def write_resources(out_dir: str, seed: int, rows: int) -> None:
    """Write the three load resources, the changed merge resource and
    ``manifest.json`` (read back with ``load_manifest``).

    The merge resource replaces ``clean`` (the latest ``ano``): its first
    half repeats ``clean``'s keys with redrawn values, so those rows
    update, and its second half is new keys, which insert."""
    rng = np.random.default_rng(seed)
    os.makedirs(os.path.join(out_dir, "merge"), exist_ok=True)
    load, clean_keys = [], None
    for i, (variant, year) in enumerate([("offset", 2019), ("drifted", 2024), ("clean", 2025)]):
        keys = draw_keys(rng, rows, i * rows)
        write_resource(os.path.join(out_dir, f"{variant}.csv"), variant, rng, keys, year)
        load.append(_resource(f"detenidos_{variant}", out_dir, f"{variant}.csv", 1))
        clean_keys = keys
    half = rows // 2
    fresh = draw_keys(rng, rows - half, 3 * rows)
    keys = {k: np.concatenate([clean_keys[k][:half], fresh[k]]) for k in fresh}
    write_resource(os.path.join(out_dir, "merge", "clean.csv"), "clean", rng, keys, 2025)
    merge = load[:2] + [_resource("detenidos_clean", out_dir, "merge/clean.csv", 2)]
    manifest = {"load": load, "merge": merge, "load_keys": 3 * rows,
                "merge_keys": 4 * rows - half,
                "csv_bytes": sum(r["size"] for r in load)}
    with open(os.path.join(out_dir, "manifest.json"), "w") as f:
        json.dump(manifest, f, indent=1)


def load_manifest(out_dir: str) -> dict:
    """The manifest with resource paths made absolute."""
    with open(os.path.join(out_dir, "manifest.json")) as f:
        m = json.load(f)
    for phase in ("load", "merge"):
        for r in m[phase]:
            r["path"] = os.path.join(out_dir, r["path"])
    return m
