"""Seeded input generator for the benchmark's `etl_snapshot` workload.

`snapshot` writes an OpenAQ-shaped location + latest-measurement snapshot
for the flagship ETL. The same seed always gives byte-identical files; row
counts depend only on the size arguments, never on the seed, so every seed
does the same work.
"""
import json
import math
import os

import numpy as np

EARTH_M = 6371000.0
PARAMS = ["pm25", "pm10", "o3", "no2"]
OTHER = ["so2", "co", "bc"]


def _dest(lat, lon, dist_m, bearing):
    """Point `dist_m` from (lat, lon) along `bearing` on the sphere."""
    p1, l1, d = math.radians(lat), math.radians(lon), dist_m / EARTH_M
    p2 = math.asin(math.sin(p1) * math.cos(d) + math.cos(p1) * math.sin(d) * math.cos(bearing))
    l2 = l1 + math.atan2(math.sin(bearing) * math.sin(d) * math.cos(p1),
                         math.cos(d) - math.sin(p1) * math.sin(p2))
    return round(math.degrees(p2), 5), round(math.degrees(l2), 5)


def _safe_distance(rng, lo_km, hi_km):
    """A distance at least 1 km away from both the 25 km and 75 km radii
    (rounding the coordinates to 1e-5 deg moves a point by < 2 m), so a
    last-ulp haversine difference can never flip a geo decision."""
    while True:
        d = rng.uniform(lo_km, hi_km)
        if abs(d - 25.0) >= 1.0 and abs(d - 75.0) >= 1.0:
            return d * 1000.0


def snapshot(out, seed, n_cities, stations_per_city, lines_per_sensor):
    """Write locations.jsonl, latest.jsonl and cities.json under `out`.

    About a tenth of the cities have fewer than 10 stations inside 25 km, so
    the pipeline takes the 75 km fallback path for them. Quirk rows appear
    at fixed shares: stale stations, a missing coordinate, uppercase
    parameter names, sensor id 0, lexical `nan` values, unparseable dates,
    and exactly one corrupt line."""
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng([seed, 2])
    cities, locs, meas = [], [], []
    sid = 10_000
    n_fallback = max(1, n_cities // 10)
    for c in range(n_cities):
        name = f"City{c:03d}"
        clat, clon = round(rng.uniform(-50, 60), 4), round(rng.uniform(-170, 170), 4)
        cities.append({"city": name, "lat": clat, "lon": clon})
        inner = int(rng.integers(2, 8)) if c < n_fallback else int(rng.integers(10, 14))
        for s in range(stations_per_city):
            loc_id = c * 1000 + s
            if s < inner:
                dist = _safe_distance(rng, 0.5, 24.0)
            elif s % 3 == 0:
                dist = _safe_distance(rng, 76.0, 140.0)
            else:
                dist = _safe_distance(rng, 26.0, 74.0)
            lat, lon = _dest(clat, clon, dist, rng.uniform(0, 2 * math.pi))
            q = s % 40
            last = f"2025-09-{int(rng.integers(1, 8)):02d}T{int(rng.integers(0, 24)):02d}:00:00Z"
            if q == 7:
                last = "2025-06-01T00:00:00Z"        # stale station
            loc = {"city": name, "id": loc_id,
                   "name": None if s % 11 == 3 else f"{name} station {s}",
                   "locality": None if s % 22 == 3 else f"{name} district {s % 9}",
                   "coordinates": {"latitude": None if q == 13 else lat, "longitude": lon},
                   "datetimeLast": {"utc": last, "local": None},
                   "sensors": []}
            n_sens = 2 + s % 5
            for k in range(n_sens):
                sid += 1
                pname = (PARAMS + OTHER)[int(rng.integers(0, 7))]
                if k == 0 and s % 17 == 5:
                    pname = pname.upper()                # uppercase parameter
                sensor_id = 0 if (k == 1 and s % 29 == 11) else sid   # sensor id 0
                units = "ppm" if pname.lower() == "o3" and s % 2 else "µg/m³"
                where = k % 3
                loc["sensors"].append({
                    "id": sensor_id,
                    "parameter": {"name": pname, "units": units if where == 0 else None},
                    "units": units if where == 1 else None,
                    "unit": units if where == 2 else None})
                for m in range(lines_per_sensor):
                    r = int(rng.integers(0, 100))
                    value = f"{rng.uniform(0, 120):.1f}"
                    if r == 0:
                        value = "nan"                    # lexical nan passes F7
                    elif r == 1:
                        value = "oops"
                    date = f"2025-09-{int(rng.integers(1, 8)):02d}T{int(rng.integers(0, 24)):02d}:{m % 60:02d}:00Z"
                    if r == 2:
                        date = "not-a-date"              # unparseable date is kept
                    elif r == 3:
                        date = "2025-05-01T00:00:00Z"    # stale measurement
                    row = {"location_id": loc_id, "sensorsId": str(sensor_id),
                           "value": value, "unit": None,
                           "datetime": {"utc": date, "local": None}, "date": None}
                    if r == 4:
                        row["datetime"] = {"utc": None, "local": date.replace("Z", "+02:00")}
                    meas.append(row)
            locs.append(loc)
    order = rng.permutation(len(meas))
    with open(f"{out}/locations.jsonl", "w", encoding="utf-8") as f:
        for loc in locs:
            f.write(json.dumps(loc, ensure_ascii=False) + "\n")
    with open(f"{out}/latest.jsonl", "w", encoding="utf-8") as f:
        for i, j in enumerate(order):
            if i == len(order) // 2:
                # the corrupt line; its braces balance because DuckDB's
                # newline-delimited reader (the q_flagship oracle) drops the
                # line after an unterminated object too, while the program
                # reads line by line
                f.write('{"location_id": 1, "sensorsId": "7", "value": broken-not-json}\n')
            f.write(json.dumps(meas[j], ensure_ascii=False) + "\n")
    with open(f"{out}/cities.json", "w") as f:
        json.dump(cities, f)
    return len(meas) + 1
