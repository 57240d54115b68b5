#!/usr/bin/env python3
"""Write the committed ESRI Shapefile test fixtures. Run from anywhere:

    python3 tools/make_shp_fixtures.py

It writes three layers under src/test/resources/fixtures/shp/. They stand
in for the reference test-suite's Natural Earth and nybb files (FIXTURES.md
sections 1-3). Each keeps the real layer's schema, row count, CRS text and
multipart/hole structure; the geometry is synthetic.

    naturalearth_lowres/naturalearth_lowres.{shp,shx,dbf,prj}
        177 (Multi)Polygon countries; pop_est, continent, name, iso_a3,
        gdp_md_est; ESRI GEOGCS["GCS_WGS_1984",...] with no AUTHORITY.
    naturalearth_cities/naturalearth_cities.{shp,shx,dbf,prj}
        243 Point cities; name; the same .prj.
    nybb_16a.zip
        members under nybb_16a/: 5 MultiPolygon boroughs; BoroCode,
        BoroName, Shape_Leng, Shape_Area; ESRI WKT of EPSG:2263 (ftUS).

The bytes follow the ESRI Shapefile Technical Description (July 1998):
a 100-byte big/little-endian main file header, big-endian record headers,
Point (type 1) and Polygon (type 5) record contents with clockwise shells
and counter-clockwise holes, and the .shx index of (offset, length) pairs in
16-bit words. The .dbf follows the dBASE III (version 0x03) layout: a
32-byte header (date, record count, header and record sizes), 32-byte field
descriptors ended by 0x0D, one space-flagged record per row, then 0x1A.

Only the standard library is used, not the engine's own writer, so a bug
shared by the writer and the reader cannot hide itself. The output is
byte-for-byte deterministic: the .dbf date and the zip timestamps are fixed
and zip members are stored uncompressed, so a rerun leaves git clean.
Before writing, the script checks what the tests rely on: ring orientation,
lon/lat bounds, disjoint country interiors, and which country (if any)
holds each city.
"""
import math
import os
import struct
import zipfile

OUT = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                   "..", "src", "test", "resources", "fixtures", "shp")

DBF_DATE = (2016 - 1900, 1, 1)          # YY (since 1900), MM, DD
ZIP_DATE = (2016, 1, 1, 0, 0, 0)

WGS84_PRJ = ('GEOGCS["GCS_WGS_1984",DATUM["D_WGS_1984",'
             'SPHEROID["WGS_1984",6378137.0,298.257223563]],'
             'PRIMEM["Greenwich",0.0],UNIT["Degree",0.0174532925199433]]')

NY_LONG_ISLAND_PRJ = (
    'PROJCS["NAD_1983_StatePlane_New_York_Long_Island_FIPS_3104_Feet",'
    'GEOGCS["GCS_North_American_1983",DATUM["D_North_American_1983",'
    'SPHEROID["GRS_1980",6378137.0,298.257222101]],PRIMEM["Greenwich",0.0],'
    'UNIT["Degree",0.0174532925199433]],PROJECTION["Lambert_Conformal_Conic"],'
    'PARAMETER["False_Easting",984250.0],PARAMETER["False_Northing",0.0],'
    'PARAMETER["Central_Meridian",-74.0],'
    'PARAMETER["Standard_Parallel_1",40.66666666666666],'
    'PARAMETER["Standard_Parallel_2",41.03333333333333],'
    'PARAMETER["Latitude_Of_Origin",40.16666666666666],'
    'UNIT["Foot_US",0.3048006096012192]]')


# ---------------------------------------------------------------- geometry
# A feature is a list of parts; a part is a list of closed rings, the shell
# first (clockwise) and its holes after it (counter-clockwise).

def box_ring(x0, y0, x1, y1):
    """Clockwise closed ring around a box."""
    return [(x0, y0), (x0, y1), (x1, y1), (x1, y0), (x0, y0)]


def hexagon(x0, y0, x1, y1, nd=6):
    """Clockwise closed hexagon inscribed in a box, rounded to nd decimals."""
    w, h = x1 - x0, y1 - y0
    pts = [(x0, y0 + .3 * h), (x0 + .2 * w, y1), (x0 + .8 * w, y1),
           (x1, y0 + .6 * h), (x0 + .7 * w, y0), (x0 + .25 * w, y0)]
    pts = [(round(x, nd), round(y, nd)) for x, y in pts]
    return pts + [pts[0]]


def signed_area(ring):
    """Shoelace area: positive for counter-clockwise rings."""
    return sum(x0 * y1 - x1 * y0 for (x0, y0), (x1, y1) in zip(ring, ring[1:])) / 2


def perimeter(ring):
    return sum(math.hypot(x1 - x0, y1 - y0) for (x0, y0), (x1, y1) in zip(ring, ring[1:]))


def rings(feature):
    return [r for part in feature for r in part]


def bounds(points):
    xs, ys = [p[0] for p in points], [p[1] for p in points]
    return min(xs), min(ys), max(xs), max(ys)


def on_segment(p, a, b):
    cross = (b[0] - a[0]) * (p[1] - a[1]) - (b[1] - a[1]) * (p[0] - a[0])
    return cross == 0 and min(a[0], b[0]) <= p[0] <= max(a[0], b[0]) \
        and min(a[1], b[1]) <= p[1] <= max(a[1], b[1])


def contains(feature, p):
    """Even-odd point-in-polygon over every ring; a point on an edge fails."""
    inside = False
    for ring in rings(feature):
        for a, b in zip(ring, ring[1:]):
            assert not on_segment(p, a, b), f"point {p} lies on an edge"
            if (a[1] > p[1]) != (b[1] > p[1]) and \
                    p[0] < a[0] + (p[1] - a[1]) * (b[0] - a[0]) / (b[1] - a[1]):
                inside = not inside
    return inside


def check_polygons(features, lonlat):
    """Shells clockwise, holes counter-clockwise, lon/lat in range, and the
    parts of different features in disjoint boxes, unless one part is exactly
    a hole of the other (an enclave)."""
    for f in features:
        for part in f:
            assert signed_area(part[0]) < 0, "shell must be clockwise"
            assert all(signed_area(h) > 0 for h in part[1:]), "hole must be counter-clockwise"
            if lonlat:
                assert all(-180 <= x <= 180 and -90 <= y <= 90 for x, y in part[0])
    holes = [{tuple(sorted(h)) for part in f for h in part[1:]} for f in features]
    parts = [(i, part) for i, f in enumerate(features) for part in f]
    for k, (i, p) in enumerate(parts):
        bi = bounds(p[0])
        for j, q in parts[k + 1:]:
            if i == j:
                continue
            bj = bounds(q[0])
            if bi[2] < bj[0] or bj[2] < bi[0] or bi[3] < bj[1] or bj[3] < bi[1]:
                continue
            assert tuple(sorted(p[0])) in holes[j] or tuple(sorted(q[0])) in holes[i], \
                f"features {i} and {j} overlap"


# ------------------------------------------------------------------ .shp/.shx

def shp_header(file_words, shape_type, box):
    return (struct.pack(">7i", 9994, 0, 0, 0, 0, 0, file_words) +
            struct.pack("<2i8d", 1000, shape_type, *box, 0.0, 0.0, 0.0, 0.0))


def point_content(p):
    return struct.pack("<i2d", 1, *p)


def polygon_content(feature):
    rs = rings(feature)
    pts = [p for r in rs for p in r]
    starts, n = [], 0
    for r in rs:
        starts.append(n)
        n += len(r)
    return (struct.pack("<i4d2i", 5, *bounds(pts), len(rs), len(pts)) +
            struct.pack(f"<{len(rs)}i", *starts) +
            b"".join(struct.pack("<2d", *p) for p in pts))


def shp_shx(shape_type, contents, points):
    box = bounds(points)
    body, index, offset = b"", b"", 50
    for i, c in enumerate(contents):
        body += struct.pack(">2i", i + 1, len(c) // 2) + c
        index += struct.pack(">2i", offset, len(c) // 2)
        offset += 4 + len(c) // 2
    shp = shp_header(50 + len(body) // 2, shape_type, box) + body
    shx = shp_header(50 + len(index) // 2, shape_type, box) + index
    return shp, shx


# ----------------------------------------------------------------------- .dbf

def dbf(fields, rows):
    """fields: (name, type, length, decimals); C is left-aligned text, N a
    right-aligned number."""
    out = struct.pack("<B3BIHH20x", 3, *DBF_DATE, len(rows),
                      32 + 32 * len(fields) + 1, 1 + sum(f[2] for f in fields))
    for name, typ, length, dec in fields:
        out += struct.pack("<11sc4xBB14x", name.encode("ascii"), typ.encode("ascii"), length, dec)
    out += b"\r"
    for row in rows:
        out += b" "
        for (name, typ, length, dec), v in zip(fields, row):
            s = v.ljust(length) if typ == "C" else f"{v:.{dec}f}".rjust(length)
            assert len(s) == length, f"{name}={v!r} does not fit {length}"
            out += s.encode("ascii")
    return out + b"\x1a"


# ------------------------------------------------------ naturalearth stand-ins

# continent -> (iso prefix, grid countries, lon0, lat0, dlon, dlat, cols):
# the grid countries fill cells row by row from (lon0, lat0).
GRIDS = [
    ("Africa", "F", 49, -17.0, -20.0, 9.0, 8.0, 7),
    ("Antarctica", "T", 0, 0, 0, 0, 0, 1),
    ("Asia", "S", 47, 55.0, 0.0, 10.0, 8.0, 8),
    ("Europe", "E", 38, 11.0, 44.0, 5.0, 4.0, 6),
    ("North America", "N", 18, -130.0, 12.0, 12.0, 20.0, 6),
    ("Oceania", "O", 6, 160.0, -21.0, 6.0, 8.0, 3),
    ("Seven seas (open ocean)", "W", 0, 0, 0, 0, 0, 1),
    ("South America", "M", 13, -82.0, -56.0, 12.0, 16.0, 4),
]

SOUTH_AFRICA = (16.5, -34.8, 32.9, -22.1)
LESOTHO = (27.0, -30.7, 29.5, -28.6)

# Named rows: (continent, name, iso_a3, pop_est, gdp_md_est, parts, capital,
# capital position). South Africa's hole is exactly Lesotho's shell.
NAMED = [
    ("Europe", "France", "FRA", 67059887.0, 2715518.0,
     [[[(-1.0, 43.0), (-1.0, 48.0), (2.0, 50.0), (7.0, 48.0), (6.0, 43.0), (-1.0, 43.0)]],
      [box_ring(8.6, 41.4, 9.4, 43.0)]],
     "Paris", (2.35, 48.86)),
    ("Oceania", "Australia", "AUS", 25364307.0, 1396567.0,
     [[hexagon(113.5, -38.5, 153.5, -11.0)], [box_ring(144.5, -43.5, 148.5, -40.5)]],
     "Canberra", (133.5, -24.75)),
    ("Africa", "South Africa", "ZAF", 58558270.0, 351431.0,
     [[hexagon(*SOUTH_AFRICA), box_ring(*LESOTHO)[::-1]]],
     "Pretoria", (24.7, -28.45)),
    ("Africa", "Lesotho", "LSO", 2125268.0, 2376.0,
     [[box_ring(*LESOTHO)]],
     "Maseru", (28.25, -29.65)),
    ("Antarctica", "Antarctica", "ATA", 4490.0, 898.0,
     [[hexagon(-179.5, -89.5, 179.5, -63.0)]],
     "Antarctica station", (0.0, -76.25)),
    ("Seven seas (open ocean)", "Fr. S. Antarctic Lands", "ATF", 140.0, 16.0,
     [[box_ring(68.0, -50.0, 69.5, -48.5)], [box_ring(70.0, -49.5, 71.0, -48.8)]],
     "Port-aux-Francais", (68.75, -49.25)),
]

# Cities in no country: small islands, as in the real layer. Three sit on
# the equator exactly.
ISLETS = ([(-30.0, float(y)) for y in range(-50, 51, 10)] +
          [(-150.0, float(y)) for y in range(-50, 51, 10)] +
          [(-100.0, float(y)) for y in range(-50, 1, 10)] +
          [(80.0, float(y)) for y in range(-50, -9, 10)] +
          [(175.0, float(y)) for y in range(10, 51, 10)] +
          [(5.0, float(y)) for y in range(-50, -29, 5)])


def grid_country(lon0, lat0, dlon, dlat, cols, k):
    """Cell k: a hexagonal main part, plus an island for every third cell;
    the capital at the main part's centre and a second city above it."""
    x0, y0 = lon0 + dlon * (k % cols), lat0 + dlat * (k // cols)
    mx0, my0, mx1, my1 = x0 + .08 * dlon, y0 + .08 * dlat, x0 + .70 * dlon, y0 + .92 * dlat
    parts = [[hexagon(mx0, my0, mx1, my1)]]
    if k % 3 == 0:
        parts.append([box_ring(round(x0 + .78 * dlon, 6), round(y0 + .30 * dlat, 6),
                               round(x0 + .92 * dlon, 6), round(y0 + .60 * dlat, 6))])
    capital = (round((mx0 + mx1) / 2, 6), round((my0 + my1) / 2, 6))
    second = (capital[0], round(my0 + .75 * (my1 - my0), 6))
    return parts, capital, second


def naturalearth():
    countries, cities = [], []   # (row, parts), (name, point, country index or None)
    for continent, prefix, n, lon0, lat0, dlon, dlat, cols in GRIDS:
        for c, name, iso, pop, gdp, parts, cap, at in NAMED:
            if c == continent:
                cities.append((cap, at, len(countries)))
                countries.append(((pop, continent, name, iso, gdp), parts))
        for k in range(n):
            parts, cap, second = grid_country(lon0, lat0, dlon, dlat, cols, k)
            name = f"{continent} {k + 1:02d}"
            pop = 250000.0 + (k * 7919 + ord(prefix) * 104729) % 9973 * 9001.5
            gdp = round(pop / 1000 * (1 + k % 7), 2)
            cities.append((f"{name} capital", cap, len(countries)))
            if k % 8 == 1:
                cities.append((f"{name} port", second, len(countries)))
            countries.append(((pop, continent, name, f"{prefix}{k + 1:02d}", gdp), parts))
    for i, p in enumerate(ISLETS):
        cities.append((f"Islet {i + 1:02d}", p, None))

    features = [parts for _, parts in countries]
    check_polygons(features, lonlat=True)
    for name, p, home in cities:
        assert -180 <= p[0] <= 180 and -90 <= p[1] <= 90
        holders = [i for i, f in enumerate(features) if contains(f, p)]
        assert holders == ([] if home is None else [home]), f"{name} lies in {holders}"
    assert len(countries) == 177 and len(cities) == 243
    return countries, cities


def write_naturalearth(out):
    countries, cities = naturalearth()
    features = [parts for _, parts in countries]
    shp, shx = shp_shx(5, [polygon_content(f) for f in features],
                       [p for f in features for r in rings(f) for p in r])
    fields = [("pop_est", "N", 20, 2), ("continent", "C", 23, 0), ("name", "C", 36, 0),
              ("iso_a3", "C", 3, 0), ("gdp_md_est", "N", 20, 2)]
    write_layer(out, "naturalearth_lowres", shp, shx,
                dbf(fields, [row for row, _ in countries]), WGS84_PRJ)

    shp, shx = shp_shx(1, [point_content(p) for _, p, _ in cities], [p for _, p, _ in cities])
    write_layer(out, "naturalearth_cities", shp, shx,
                dbf([("name", "C", 40, 0)], [(name,) for name, _, _ in cities]), WGS84_PRJ)

    inside = sum(home is not None for _, _, home in cities)
    continents = {row[1] for row, _ in countries}
    africa = sum(row[1] == "Africa" for row, _ in countries)
    multi = sum(len(parts) > 1 for _, parts in countries)
    print(f"naturalearth_lowres: {len(countries)} countries ({multi} multipart), "
          f"{len(continents)} continents, {africa} in Africa")
    print(f"naturalearth_cities: {len(cities)} cities, {inside} inside a country")


def write_layer(out, layer, shp, shx, dbf_bytes, prj):
    d = os.path.join(out, layer)
    os.makedirs(d, exist_ok=True)
    for ext, data in (("shp", shp), ("shx", shx), ("dbf", dbf_bytes), ("prj", prj.encode("ascii"))):
        with open(os.path.join(d, f"{layer}.{ext}"), "wb") as f:
            f.write(data)


# --------------------------------------------------------------- nybb stand-in

# BoroCode, BoroName, main-part box and island box, in EPSG:2263 feet; the
# file order and the codes are the real layer's.
BOROUGHS = [
    (5, "Staten Island", (915000.0, 120000.0, 960000.0, 170000.0), (962000.0, 160000.0, 966000.0, 164000.0)),
    (4, "Queens", (1020000.0, 150000.0, 1065000.0, 225000.0), (1030000.0, 140000.0, 1036000.0, 146000.0)),
    (3, "Brooklyn", (975000.0, 150000.0, 1015000.0, 195000.0), (980000.0, 140000.0, 984000.0, 144000.0)),
    (1, "Manhattan", (980000.0, 200000.0, 1000000.0, 255000.0), (1002000.0, 215000.0, 1004000.0, 220000.0)),
    (2, "Bronx", (1005000.0, 235000.0, 1050000.0, 270000.0), (1040000.0, 228000.0, 1046000.0, 232000.0)),
]


def write_nybb(out):
    features = [[[hexagon(*main, nd=2)], [box_ring(*island)]] for _, _, main, island in BOROUGHS]
    check_polygons(features, lonlat=False)
    rows = []
    for (code, name, _, _), f in zip(BOROUGHS, features):
        leng = sum(perimeter(r) for r in rings(f))
        area = sum(-signed_area(part[0]) - sum(signed_area(h) for h in part[1:]) for part in f)
        rows.append((float(code), name, leng, area))
    shp, shx = shp_shx(5, [polygon_content(f) for f in features],
                       [p for f in features for r in rings(f) for p in r])
    fields = [("BoroCode", "N", 10, 0), ("BoroName", "C", 32, 0),
              ("Shape_Leng", "N", 24, 11), ("Shape_Area", "N", 24, 11)]
    members = [("nybb.shp", shp), ("nybb.shx", shx), ("nybb.dbf", dbf(fields, rows)),
               ("nybb.prj", NY_LONG_ISLAND_PRJ.encode("ascii"))]
    with zipfile.ZipFile(os.path.join(out, "nybb_16a.zip"), "w", zipfile.ZIP_STORED) as z:
        z.writestr(zip_info("nybb_16a/", 0o40755, dir=True), b"")
        for name, data in members:
            z.writestr(zip_info(f"nybb_16a/{name}", 0o100644), data)
    print(f"nybb_16a.zip: {len(rows)} boroughs, Shape_Area total {sum(r[3] for r in rows):.2f} ftUS^2")


def zip_info(name, mode, dir=False):
    info = zipfile.ZipInfo(name, date_time=ZIP_DATE)
    info.create_system = 3
    info.external_attr = (mode << 16) | (0x10 if dir else 0)
    info.compress_type = zipfile.ZIP_STORED
    return info


if __name__ == "__main__":
    os.makedirs(OUT, exist_ok=True)
    write_naturalearth(OUT)
    write_nybb(OUT)
