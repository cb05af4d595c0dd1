"""Seeded generator of hourly air-quality report pages.

Each page has the layout of the engine's fixture report page
(`src/main/resources/fixtures/report_sample.html`): a date line, the
scalar divs, and the CDMX and Estado de Mexico station tables. The
generator also writes the answers it expects, computed here without the
engine:

- the "current air" rows of the newest hour after every page, with
  names normalized the reference way (NFKD, ASCII, lower case, space to
  underscore);
- the keys each page delivers, so the row count of each table and the
  `nupdates` of each key after any prefix of pages follow by counting.

Every fifth page re-delivers an hour already sent (which one is
seeded), with changed readings: these go through the upsert's ON
CONFLICT path. The schedule is fixed so that every seed asks the same
amount of work of a run.
"""
import datetime
import json
import os
import random
import unicodedata

PARAMS = {
    "cdmx_stations": 40,
    "edomex_stations": 24,
    "station_missing_share": 0.04,
    "img_missing_share": 0.06,
    "malformed_rows_max": 2,
    "redelivery_every": 5,  # every 5th page re-delivers an hour
    "redelivery_window_hours": 6,
}

ALCALDIAS = [
    "Álvaro Obregón", "Azcapotzalco", "Benito Juárez", "Coyoacán",
    "Cuajimalpa de Morelos", "Cuauhtémoc", "Gustavo A. Madero", "Iztacalco",
    "Iztapalapa", "La Magdalena Contreras", "Miguel Hidalgo", "Milpa Alta",
    "Tláhuac", "Tlalpan", "Venustiano Carranza", "Xochimilco",
]
MUNICIPIOS = [
    "Nezahualcóyotl", "Ecatepec de Morelos", "Tlalnepantla de Baz",
    "Naucalpan de Juárez", "Atizapán de Zaragoza", "Cuautitlán Izcalli",
    "Tultitlán", "Coacalco de Berriozábal", "Chalco", "Texcoco", "Acolman",
    "Tecámac", "Nicolás Romero", "Huixquilucan", "Zumpango", "Ixtapaluca",
    "Tultepec", "Chimalhuacán", "La Paz", "Valle de Chalco Solidaridad",
    "Teoloyucan", "Tepotzotlán", "Atenco", "Ocoyoacac",
]
LEVELS = ["buena", "aceptable", "mala", "muy_mala", "extremadamente_mala"]
POLLUTANTS = ["O3", "PM10", "PM2.5", "NO2", "SO2", "CO"]
WEEKDAYS = ["lunes", "martes", "miércoles", "jueves", "viernes", "sábado", "domingo"]
MONTHS = ["enero", "febrero", "marzo", "abril", "mayo", "junio", "julio",
          "agosto", "septiembre", "octubre", "noviembre", "diciembre"]
UV = ["Usa protector solar y lentes con filtro UV", "Evita la exposición al sol",
      "Riesgo bajo, sin precauciones especiales"]
SCORES = ["Buena", "Aceptable", "Mala", "Muy mala"]
# Entities the engine's HTML reader decodes; used on some cells so both
# the raw UTF-8 and the entity spelling of accents occur.
ENTITIES = {"á": "&aacute;", "é": "&eacute;", "í": "&iacute;", "ó": "&oacute;",
            "ú": "&uacute;", "ñ": "&ntilde;", "Á": "&Aacute;"}


def normalize(s):
    """The reference's normalization (FIXTURES A3)."""
    return unicodedata.normalize("NFKD", s).encode("ASCII", "ignore").decode().lower().replace(" ", "_")


def escape(s, rng):
    if rng.random() < 0.5:
        return s
    return "".join(ENTITIES.get(c, c) for c in s)


def catalogue(rng, n, names, prefix):
    codes, out = set(), []
    while len(out) < n:
        code = prefix + "".join(rng.choice("ABCDEFGHIJKLMNOPQRSTUVWXYZ") for _ in range(2))
        if code in codes:
            continue
        codes.add(code)
        out.append((code, names[len(out) % len(names)]))
    return out


def readings(rng, stations):
    rows = []
    for code, name in stations:
        if rng.random() < PARAMS["station_missing_share"]:
            continue
        level = None if rng.random() < PARAMS["img_missing_share"] else rng.choice(LEVELS)
        rows.append((code, name, level, rng.choice(POLLUTANTS)))
    return rows


def table_html(div_id, title, name_header, rows, rng):
    out = [f'  <div id="{div_id}">', '    <table class="tabla">',
           f'      <tr><td colspan="4">{title}</td></tr>',
           f'      <tr><th>Clave</th><th>{name_header}</th><th>Calidad del aire</th>'
           '<th>Par&aacute;metro</th></tr>']
    junk = sorted(rng.sample(range(len(rows) + 1), rng.randint(0, PARAMS["malformed_rows_max"])))
    for i, row in enumerate(rows + [None]):
        while junk and junk[0] == i:
            junk.pop(0)
            out.append('      <tr><td colspan="2">fila mal formada</td><td>x</td></tr>')
        if row is None:
            break
        code, name, level, param = row
        img = f'<img src="/assets/iconos/{level}.svg" alt="{level}">' if level else ""
        out.append(f"      <tr><td>{code}</td><td>{escape(name, rng)}</td>"
                   f"<td>{img}</td><td>{param}</td></tr>")
    out += ["    </table>", "  </div>"]
    return "\n".join(out)


def page_html(t, cdmx, edomex, rng):
    date = (f"{t.hour:02d}:00 h, {WEEKDAYS[t.weekday()]} {t.day} de "
            f"{MONTHS[t.month - 1]} de {t.year}")
    return "\n".join([
        '<!DOCTYPE html>', '<html lang="es">',
        '<head><meta charset="utf-8"><title>Reporte de calidad del aire</title></head>',
        '<body>', '  <div id="encabezado">',
        f'    <div id="textohora">{escape(date, rng)}</div>',
        f'    <div id="textotemperatura">{rng.randint(4, 31)}&nbsp;°C</div>',
        f'    <div id="recomendacioniuv">{rng.choice(UV)}</div>',
        '    <div id="pronosticoaire">',
        f'      <div>Hoy</div><div>{rng.choice(SCORES)}</div>'
        f'<div>Ma&ntilde;ana</div><div>{rng.choice(SCORES)}</div>',
        '    </div>', '  </div>',
        table_html("tabladf", "Calidad del aire en la Ciudad de M&eacute;xico",
                   "Alcald&iacute;a", cdmx, rng),
        table_html("tablaedomex", "Calidad del aire en el Estado de M&eacute;xico",
                   "Municipio", edomex, rng),
        '</body>', '</html>', ''])


def generate(seed, n_pages, out_dir, redelivery_every=PARAMS["redelivery_every"]):
    """Writes `n_pages` pages and `expected.json` under `out_dir`."""
    rng = random.Random(seed)
    cdmx_st = catalogue(rng, PARAMS["cdmx_stations"], ALCALDIAS, "C")
    edomex_st = catalogue(rng, PARAMS["edomex_stations"], MUNICIPIOS, "E")
    start = datetime.datetime(2025, 1, 1) + datetime.timedelta(hours=rng.randrange(300 * 24))
    os.makedirs(out_dir, exist_ok=True)
    sent, newest = [], None  # hours sent so far, newest report_ts
    latest = {}  # report_ts -> {station code: its latest cdmx reading}
    deliveries = {}  # (table, key) -> count
    pages = []
    for i in range(n_pages):
        if i % redelivery_every == redelivery_every - 1:
            t = rng.choice(sent[-PARAMS["redelivery_window_hours"]:])
        else:
            t = start + datetime.timedelta(hours=len(sent))
            sent.append(t)
        ts = t.year * 1000000 + t.month * 10000 + t.day * 100 + t.hour
        cdmx, edomex = readings(rng, cdmx_st), readings(rng, edomex_st)
        name = f"p{i:05d}.html"
        with open(os.path.join(out_dir, name), "w", encoding="utf-8") as f:
            f.write(page_html(t, cdmx, edomex, rng))
        keys = {"cdmx": [normalize(c) for c, _, _, _ in cdmx],
                "edomex": [normalize(c) for c, _, _, _ in edomex]}
        for table, ks in keys.items():
            for k in ks:
                deliveries[(table, ts, k)] = deliveries.get((table, ts, k), 0) + 1
        deliveries[("gral_stats", ts, "")] = deliveries.get(("gral_stats", ts, ""), 0) + 1
        latest.setdefault(ts, {}).update((r[0], r) for r in cdmx)
        newest = ts if newest is None else max(newest, ts)
        current = sorted(
            [normalize(c), normalize(n), lvl, normalize(p), deliveries[("cdmx", newest, normalize(c))]]
            for c, n, lvl, p in latest[newest].values())
        pages.append({"file": name, "report_ts": ts, "keys": keys, "current": current})
    with open(os.path.join(out_dir, "expected.json"), "w", encoding="utf-8") as f:
        json.dump({"seed": seed, "params": dict(PARAMS, redelivery_every=redelivery_every),
                   "pages": pages}, f)
    return pages
