#!/usr/bin/env python3
"""Seeded generator of an INMET station-CSV corpus, plus its expected counts.

Each file is one station in the INMET two-section micro-format: eight
`KEY:;VALUE` metadata lines, the 19-column `Data;Hora UTC;...` header, then
hourly `;`-separated rows with decimal commas. Stations alternate between the
two layouts the fixtures show:

  - A507/A508 layout: `yyyy/MM/dd` dates, a trailing `;` on the header and on
    every data row, foundation date as `dd/MM/yy`;
  - A509 layout: `dd/MM/yyyy` dates, no trailing `;`, foundation date as
    `dd/MM/yyyy`.

The corpus is `STATIONS` stations, each covering the same `DAYS`
consecutive days from a seeded start date, so the expected stage and
warehouse row counts follow in closed form.
Some measure fields are left empty, as in the fixtures; the pipeline
zero-fills them. `expected.json` holds the counts the pipeline must
reproduce and the total precipitation in tenths of a mm.

Usage: python3 gen_inmet.py <outDir> <seed>
"""
import datetime
import json
import os
import random
import sys

HEADER = ";".join([
    "Data", "Hora UTC", "PRECIPITAÇÃO TOTAL, HORÁRIO (mm)",
    "PRESSAO ATMOSFERICA AO NIVEL DA ESTACAO, HORARIA (mB)",
    "PRESSÃO ATMOSFERICA MAX.NA HORA ANT. (AUT) (mB)",
    "PRESSÃO ATMOSFERICA MIN. NA HORA ANT. (AUT) (mB)",
    "RADIACAO GLOBAL (Kj/m²)", "TEMPERATURA DO AR - BULBO SECO, HORARIA (°C)",
    "TEMPERATURA DO PONTO DE ORVALHO (°C)",
    "TEMPERATURA MÁXIMA NA HORA ANT. (AUT) (°C)",
    "TEMPERATURA MÍNIMA NA HORA ANT. (AUT) (°C)",
    "TEMPERATURA ORVALHO MAX. NA HORA ANT. (AUT) (°C)",
    "TEMPERATURA ORVALHO MIN. NA HORA ANT. (AUT) (°C)",
    "UMIDADE REL. MAX. NA HORA ANT. (AUT) (%)",
    "UMIDADE REL. MIN. NA HORA ANT. (AUT) (%)",
    "UMIDADE RELATIVA DO AR, HORARIA (%)",
    "VENTO, DIREÇÃO HORARIA (gr) (° (gr))", "VENTO, RAJADA MAXIMA (m/s)",
    "VENTO, VELOCIDADE HORARIA (m/s)"])
STATIONS, DAYS = 240, 21
UFS = [("SE", "MG"), ("SE", "SP"), ("SE", "RJ"), ("S", "PR"), ("NE", "BA"),
       ("CO", "GO"), ("N", "PA")]


def dec(tenths):
    """Decimal-comma numeral from an integer count of tenths."""
    sign = "-" if tenths < 0 else ""
    q, r = divmod(abs(tenths), 10)
    return f"{sign}{q},{r}" if r else f"{sign}{q}"


def station_file(rng, i, start, days):
    """Lines of station i, and its precipitation total in tenths of a mm."""
    iso = i % 2 == 0
    regiao, uf = UFS[rng.randrange(len(UFS))]
    found = datetime.date(1995, 1, 1) + datetime.timedelta(days=rng.randrange(9000))
    lines = [
        f"REGIAO:;{regiao}", f"UF:;{uf}", f"ESTACAO:;ESTACAO {i:04d}",
        f"CODIGO (WMO):;B{i:04d}",
        f"LATITUDE:;{dec(-rng.randrange(50, 300))}",
        f"LONGITUDE:;{dec(-rng.randrange(350, 700))}",
        f"ALTITUDE:;{dec(rng.randrange(50, 15000))}",
        "DATA DE FUNDACAO:;" + found.strftime("%d/%m/%y" if iso else "%d/%m/%Y"),
        HEADER + (";" if iso else "")]
    tail = ";" if iso else ""
    base_t, base_p = rng.randrange(150, 280), rng.randrange(8400, 10100)
    precip_total = 0
    for d in range(days):
        day = start + datetime.timedelta(days=d)
        ds = day.strftime("%Y/%m/%d" if iso else "%d/%m/%Y")
        for h in range(24):
            rain = rng.randrange(60) if rng.random() < 0.12 else 0
            precip = "" if rng.random() < 0.02 else dec(rain)
            if precip:
                precip_total += rain
            t = base_t + rng.randrange(-40, 41)
            p = base_p + rng.randrange(-20, 21)
            u = rng.randrange(30, 100)
            w = "" if rng.random() < 0.02 else dec(rng.randrange(0, 80))
            lines.append(
                f"{ds};{h:02d}00 UTC;{precip};{dec(p)};{dec(p + 3)};{dec(p - 4)};;"
                f"{dec(t)};{dec(t - 30)};{dec(t + 4)};{dec(t - 3)};{dec(t - 27)};"
                f"{dec(t - 33)};{u + 2};{u - 3};{u};{rng.randrange(360)};"
                f"{dec(rng.randrange(20, 120))};{w}{tail}")
    return lines, precip_total


def generate(out, seed):
    rng = random.Random(seed)
    start = datetime.date(2024, 1, 1) + datetime.timedelta(days=rng.randrange(366))
    os.makedirs(out, exist_ok=True)
    precip = 0
    for i in range(STATIONS):
        lines, p = station_file(rng, i, start, DAYS)
        precip += p
        with open(f"{out}/INMET_B{i:04d}.csv", "w", encoding="utf-8") as f:
            f.write("\n".join(lines) + "\n")
    last = start + datetime.timedelta(days=DAYS - 1)
    months = (last.year - start.year) * 12 + last.month - start.month + 1
    expected = {
        "stations": STATIONS,
        "days": DAYS,
        "stage_rows": STATIONS * DAYS * 24,
        "daily_rows": STATIONS * DAYS,
        "kpi_rows": STATIONS * months,
        "precip_tenths": precip,
    }
    with open(f"{out}/expected.json", "w") as f:
        json.dump(expected, f)
    return expected


if __name__ == "__main__":
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    print(json.dumps(generate(sys.argv[1], int(sys.argv[2]))))
