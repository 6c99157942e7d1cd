"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of its arguments: the same seed writes
the same bytes. `etl` and `daily` write their ground truth to `truth.json`
beside the input, computed here from the generator's own bookkeeping, never
from the program under test; the query tables' expected outputs come from
DuckDB (check.py).

- `etl`      fixed-width death files, city-geo CSV, `;`-separated plant CSVs
             (FIXTURES.md A1-A3) for `reference_etl`.
- `daily`    a sequence of daily death files, some records redelivered, for
             `daily_ingest`.
- `tables`   the ten parquet tables the query keys read, made by
             tools/gen_scale.py; `permuted_tables` permutes their rows by the
             workload seed.
"""
import contextlib
import datetime
import json
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

sys.path.append(os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), 'tools'))
import gen_scale  # noqa: E402

# ---------------------------------------------------------------- deaths

# France-like bounding box; the radius join is declared for |lat| <= 52
LAT0, LAT1 = 42.3, 51.0
LON0, LON1 = -4.5, 8.0
SYL = ['BA', 'BE', 'BI', 'BO', 'CA', 'CE', 'DA', 'DU', 'FA', 'GA', 'LA', 'LE',
       'LI', 'LO', 'MA', 'ME', 'MO', 'NA', 'NI', 'PA', 'RA', 'RE', 'RO', 'SA',
       'SI', 'TA', 'TE', 'TI', 'VA', 'VE', 'VI', 'ZO']
FIRST = ['JEAN', 'MARIE', 'PIERRE', 'ANNE', 'LOUIS', 'JEANNE', 'PAUL',
         'LUCIE', 'HENRI', 'CLAIRE', 'MARCEL', 'ODETTE', 'ANDRE', 'SIMONE']
DEATH_MIN = datetime.date(2015, 1, 1).toordinal()
DEATH_MAX = datetime.date(2024, 12, 31).toordinal()


def syllables(i, n):
    s = []
    for _ in range(n):
        s.append(SYL[i % len(SYL)])
        i //= len(SYL)
    return ''.join(s)


def name_field(i):
    """Unique 80-byte name field for person i (`LAST*FIRST OTHER/`)."""
    last = syllables(i, 5)
    first = FIRST[i % len(FIRST)]
    other = syllables(i * 7919 + 13, 2)
    return f'{last}*{first} {other}/'.ljust(80)


def ymd(ordinal):
    d = datetime.date.fromordinal(int(ordinal))
    return f'{d.year:04d}{d.month:02d}{d.day:02d}'


def zero_out(s, r):
    """A `00` month or day: the parse must yield NULL and drop the record."""
    return s[:4] + '00' + s[6:] if r < 0.5 else s[:6] + '00'


def communes(rng, n):
    codes = np.sort(rng.choice(np.arange(1001, 95999), n, replace=False))
    lat = np.round(rng.uniform(LAT0, LAT1, n), 5)
    lon = np.round(rng.uniform(LON0, LON1, n), 5)
    return codes, lat, lon


def write_city_geo(path, codes, lat, lon, nan_idx):
    with open(path, 'w') as f:
        f.write('code_commune_INSEE,nom_commune,latitude,longitude\n')
        for k, (c, a, o) in enumerate(zip(codes, lat, lon)):
            la = 'NaN' if k in nan_idx else repr(float(a))
            f.write(f'{c:05d},COMMUNE {c:05d},{la},{float(o)!r}\n')


def death_line(name, birth, death, insee, cert):
    birthplace = f'{(cert * 31) % 95000 + 1000:05d}BIRTHPLACE'.ljust(65)
    return f'{name}{1 + cert % 2}{birth}{birthplace}{death}{insee}{cert:09d}'


NUCLEAR_HDR = ('centrale;tranche;filiere;sector;sous_filiere;contrat_programme;'
               'combustible;fuel;point_gps_wsg84;region;code_insee_region;'
               'departement;code_insee_departement;epci;code_insee_epci;commune;'
               'code_insee_commune;tri;perimetre_juridique;perimetre_spatial;'
               'spatial_perimeter;sub_sector;date_de_mise_en_service_industrielle;'
               'puissance_installee;puissance_minimum_de_conception;'
               'reserve_secondaire_maximale;unite')
THERMAL_HDR = ('tri;perimetre_juridique;perimetre_spatial;spatial_perimeter;'
               'filiere;sector;centrale;tranche;combustible;fuel;sous_filiere;'
               'sub_sector;date_de_mise_en_service_industrielle;'
               'puissance_installee;unite;point_gps_wsg84;region;'
               'code_insee_region;departement;code_insee_departement;epci;'
               'code_insee_epci;commune;code_insee_commune;'
               'reserve_secondaire_maximale')


def plant_rows(rng, kind, n_sites, codes, lat, lon):
    """Plant units; several units per site (first-wins dedup by tranche),
    one site per kind with an unparseable start date (dropped). Sites sit
    on or near a commune so the radius join finds pairs."""
    rows = []
    fuels = ['Coal', 'Gas', 'Oil'] if kind == 'THERMAL' else ['Uranium']
    for s in range(n_sites):
        k = int(rng.integers(0, len(codes)))
        plat = round(float(lat[k]) + float(rng.uniform(-0.03, 0.03)), 5)
        plon = round(float(lon[k]) + float(rng.uniform(-0.03, 0.03)), 5)
        name = f'{kind[:3]}-{syllables(s * 97 + (7 if kind == "THERMAL" else 3), 3)}'
        units = 1 if s == 0 else int(rng.integers(1, 5))
        fuel = fuels[s % len(fuels)]
        for u in range(units):
            year = int(rng.integers(1960, 2015))
            start = 'not-a-date' if s == 0 else f'{year:04d}-{int(rng.integers(1, 13)):02d}-01'
            power = int(rng.integers(100, 1600))
            rows.append(dict(name=name, tranche=u + 1, fuel=fuel, pos=f'{plat},{plon}',
                             start=start, power=power, insee=int(codes[k])))
    return rows


def write_plants(path_thermal, path_nuclear, thermal, nuclear):
    with open(path_thermal, 'w') as f:
        f.write(THERMAL_HDR + '\n')
        for i, r in enumerate(thermal):
            f.write(f"{i};EDF;P;P;Thermique;Thermal;{r['name']};{r['tranche']};C;{r['fuel']};"
                    f"S;S;{r['start']};{r['power']};MW;{r['pos']};REG;11;DEP;01;E;1;"
                    f"C{r['insee']:05d};{r['insee']:05d};\n")
    with open(path_nuclear, 'w') as f:
        f.write(NUCLEAR_HDR + '\n')
        for i, r in enumerate(nuclear):
            f.write(f"{r['name']};{r['tranche']};Nucleaire;Nuclear;REP;CP1;Uranium;{r['fuel']};"
                    f"{r['pos']};REG;11;DEP;01;E;1;C{r['insee']:05d};{r['insee']:05d};"
                    f"{i};EDF;P;P;REP;{r['start']};{r['power']};600;;MW\n")


def etl(seed, out, n_lines, n_files, n_communes=6000):
    """The reference pipeline's raw inputs at volume, plus ground truth."""
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng([seed, 1])
    codes, lat, lon = communes(rng, n_communes)
    nan_idx = set(int(i) for i in rng.choice(n_communes, n_communes // 200, replace=False))
    write_city_geo(os.path.join(out, 'city_geo.csv'), codes, lat, lon, nan_idx)
    thermal = plant_rows(rng, 'THERMAL', 12, codes, lat, lon)
    nuclear = plant_rows(rng, 'NUCLEAR', 20, codes, lat, lon)
    write_plants(os.path.join(out, 'thermal.csv'), os.path.join(out, 'nuclear.csv'),
                 thermal, nuclear)

    good = set(int(c) for k, c in enumerate(codes) if k not in nan_idx)
    # record kinds, fixed shares: 2% a `00` date, 3% an INSEE code absent
    # from city-geo, 3% a name field repeated from an earlier record
    u = rng.random((n_lines, 4))
    person = np.arange(n_lines)
    rep = u[:, 0] < 0.03
    rep[0] = False
    for i in np.flatnonzero(rep):
        person[i] = person[int(u[i, 1] * i)]
    unknown = (u[:, 2] >= 0.03) & (u[:, 2] < 0.06)
    zero = u[:, 2] < 0.02
    death = rng.integers(DEATH_MIN, DEATH_MAX + 1, n_lines)
    birth = death - rng.integers(365 * 20, 365 * 100, n_lines)
    insee = codes[rng.integers(0, n_communes, n_lines)]
    insee = np.where(unknown, 99000 + rng.integers(0, 900, n_lines), insee)
    valid_ids = set()
    lines_per_file = -(-n_lines // n_files)
    for fi in range(n_files):
        lo, hi = fi * lines_per_file, min(n_lines, (fi + 1) * lines_per_file)
        buf = []
        for i in range(lo, hi):
            b, d = ymd(birth[i]), ymd(death[i])
            if zero[i]:
                if u[i, 3] < 0.5:
                    b = zero_out(b, u[i, 1])
                else:
                    d = zero_out(d, u[i, 1])
            buf.append(death_line(name_field(int(person[i])), b, d, f'{int(insee[i]):05d}', i))
            if not zero[i] and int(insee[i]) in good:
                valid_ids.add(int(person[i]))
        with open(os.path.join(out, f'death_{fi:03d}.txt'), 'w') as f:
            f.write('\n'.join(buf) + '\n')
    truth = {
        'lines': int(n_lines), 'files': int(n_files),
        'bytes': sum(os.path.getsize(os.path.join(out, f)) for f in os.listdir(out)
                     if f.startswith('death_')),
        'staged_rows': len(valid_ids),
        'zero_date_lines': int(zero.sum()), 'unknown_insee_lines': int(unknown.sum()),
        'repeated_name_lines': int(rep.sum()), 'nan_communes': len(nan_idx),
        'communes': int(n_communes), 'plant_units': len(thermal) + len(nuclear),
    }
    json.dump(truth, open(os.path.join(out, 'truth.json'), 'w'), indent=1)
    return truth


def valid(rec):
    return '00' not in (rec[1][4:6], rec[1][6:8], rec[2][4:6], rec[2][6:8])


def daily(seed, out, n_files, per_file, redeliver=0.05, zero_share=0.02):
    """Daily death files. Each file holds `per_file` records: fresh people,
    a share with a `00` date (never valid), and a share of exact copies of
    records from earlier files (redeliveries). truth.json lists, per file,
    the valid state after upserting every file up to it in landing order."""
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng([seed, 2])
    landed = []      # (name, birth, death, insee) of every valid record so far
    state = set()    # names in the upsert of all valid records so far
    added = []
    nxt = 0
    day0 = datetime.date(2024, 3, 1)
    for fi in range(n_files):
        recs = []
        for _ in range(per_file):
            if landed and rng.random() < redeliver:
                recs.append(landed[int(rng.integers(0, len(landed)))])
                continue
            d = int(rng.integers(DEATH_MIN, DEATH_MAX + 1))
            b = ymd(d - int(rng.integers(365 * 20, 365 * 100)))
            dd = ymd(d)
            ok = rng.random() >= zero_share
            if not ok:
                dd = zero_out(dd, rng.random())
            rec = (name_field(nxt), b, dd, f'{int(rng.integers(1001, 95999)):05d}')
            nxt += 1
            recs.append(rec)
            if ok:
                landed.append(rec)
        new = sorted({r[0].strip() for r in recs if valid(r)} - state)
        state.update(new)
        added.append(new)
        name = f'death_{(day0 + datetime.timedelta(days=fi)).isoformat()}.txt'
        with open(os.path.join(out, name), 'w') as f:
            f.write('\n'.join(death_line(r[0], r[1], r[2], r[3], k) for k, r in enumerate(recs)) + '\n')
    truth = {'files': sorted(f for f in os.listdir(out) if f.startswith('death_')),
             'per_file': per_file,
             'rows_after': list(np.cumsum([len(a) for a in added]).tolist()),
             # the names each file adds to the upsert; the state after file
             # i is the union of the first i+1 lists
             'added': added}
    json.dump(truth, open(os.path.join(out, 'truth.json'), 'w'))
    return truth


# ---------------------------------------------------------------- tables

def tables(out, sf):
    """tools/gen_scale.py's ten tables at scale factor `sf` (its own fixed
    per-table seeds)."""
    with contextlib.redirect_stdout(sys.stderr):
        gen_scale.main(sf, out)


def permuted_tables(src, out, seed):
    """The tables in `src` with every table's rows permuted by `seed`: the
    same rows in another physical order, so results must not change."""
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng([seed, 3])
    for f in sorted(f for f in os.listdir(src) if f.endswith('.parquet')):
        tbl = pq.read_table(os.path.join(src, f))
        pq.write_table(tbl.take(pa.array(rng.permutation(tbl.num_rows))), os.path.join(out, f))
