"""Seeded synthetic GTFS Schedule feed for the importer benchmark.

The same seed always yields the same feed, byte for byte.
`with_version` stamps `feed_info.feed_version`, so two zips that differ
only in version have different digests but identical cleaning work.

Injected dirt, each at a stated rate (count = max(1, round(rate * n))),
so that every gtfsclean stage of `graft.gtfs.Clean.apply` has rows to
change:

  stage (Clean.apply order)   dirt that feeds it
  keep-spec-columns (C5)      columns outside the importer's schemas,
                              stops.platform_code and trips.bikes_allowed
                              (every row); the importer's reader already
                              drops them, so this stage never has work
  default-on-errs (C2)        stops.location_type=7 (1%),
                              routes.route_type=2000 (4%),
                              stop_times.pickup_type=5 (0.2%),
                              one calendar_dates.exception_type=3
  drop-errs (C3)              stops without stop_id (0.3%), trips without
                              service_id (0.3%), stop_times without
                              stop_sequence (0.1%)
  check-null-coords (C4)      served stops at (0,0) (0.5%)
  remove-red-agencies (C11)   one duplicate agency (a1d = a1)
  remove-red-stops (C15)      duplicate stops (2%), referenced by trips
                              and transfers
  remove-red-routes (C12)     duplicate routes (8%), half on agency a1d
  remove-red-services (C13)   one duplicate service (wkd = wk)
  minimize-services (C8)      weekday calendar starting on a Sunday, a
                              Saturday service given only as
                              calendar_dates
  minimize-stoptimes (C9)     constant-headway runs of 4 trips (2% of
                              trips); ordinary trips get per-trip
                              running-time jitter so they never fold
  min-shapes (C7)             collinear mid-points on 10% of shape
                              segments
  remove-red-shapes (C14)     duplicate shapes (5%), used by some trips
  remove-red-trips (C16)      exact duplicate trips (1%)
  delete-orphans (C10)        trips on a missing service (0.5%),
                              stop_times on a missing stop (0.1%),
                              unused stops (2%), one unused shape

Also: departures past 24:00:00, upper-case language codes (agency,
feed_info, translations) and stop-name / route-name translations (5%).
The calendar starts on 2024-03-03 and crosses the 2024-03-31
Europe/Berlin DST switch.
"""
import datetime
import io
import os
import random
import zipfile

BASE = datetime.date(2024, 3, 4)  # a Monday

RATES = {
    "stop_bad_location_type": 0.01,
    "route_bad_type": 0.04,
    "stop_time_bad_pickup": 0.002,
    "stop_missing_id": 0.003,
    "trip_missing_service": 0.003,
    "stop_time_missing_sequence": 0.001,
    "stop_zero_coords": 0.005,
    "stop_duplicate": 0.02,
    "route_duplicate": 0.08,
    "trip_constant_headway_run": 0.02,
    "shape_collinear_point": 0.10,
    "shape_duplicate": 0.05,
    "trip_duplicate": 0.01,
    "trip_orphan_service": 0.005,
    "stop_time_orphan_stop": 0.001,
    "stop_unused": 0.02,
    "translation": 0.05,
}

# Feed size: candidate stops, routes, trips per route, direction and service,
# and service days: about 12k rows, 10k of them stop_times. The 21-day
# calendar gives arrivals_departures 22 service-date partitions, where a
# real feed's one-year calendar gives about 366. That understates the
# views write and the partition discovery of every departures read: on a
# 4-core host, with the importer run as shipped, this feed imported in
# 68 s and the same feed over 365 days in 93 s; a departures board read
# took 178 ms at p50 against 1671 ms, and a reopen 2.0 s against 3.5 s.
# The run time budget holds the 21-day import, not the one-year one.
N_STOPS, N_ROUTES, TRIPS_PER, DAYS = 200, 10, 10, 21

HEADERS = {
    "agency": ["agency_id", "agency_name", "agency_url", "agency_timezone",
               "agency_lang"],
    "stops": ["stop_id", "stop_code", "stop_name", "stop_lat", "stop_lon",
              "location_type", "parent_station", "wheelchair_boarding",
              "platform_code"],
    "routes": ["route_id", "agency_id", "route_short_name", "route_long_name",
               "route_type", "route_color"],
    "trips": ["trip_id", "route_id", "service_id", "trip_headsign",
              "direction_id", "shape_id", "bikes_allowed"],
    "stop_times": ["trip_id", "arrival_time", "departure_time", "stop_id",
                   "stop_sequence", "pickup_type", "drop_off_type",
                   "timepoint"],
    "calendar": ["service_id", "monday", "tuesday", "wednesday", "thursday",
                 "friday", "saturday", "sunday", "start_date", "end_date"],
    "calendar_dates": ["service_id", "date", "exception_type"],
    "frequencies": ["trip_id", "start_time", "end_time", "headway_secs",
                    "exact_times"],
    "shapes": ["shape_id", "shape_pt_lat", "shape_pt_lon", "shape_pt_sequence"],
    "transfers": ["from_stop_id", "to_stop_id", "transfer_type"],
    "feed_info": ["feed_publisher_name", "feed_publisher_url", "feed_lang",
                  "feed_start_date", "feed_end_date", "feed_version"],
    "translations": ["table_name", "field_name", "language", "translation",
                     "record_id", "record_sub_id", "field_value"],
}


def _count(rate, n):
    return max(1, round(rate * n))


def _ymd(d):
    return d.strftime("%Y%m%d")


def _hms(secs):
    return "%02d:%02d:%02d" % (secs // 3600, secs // 60 % 60, secs % 60)


def generate(seed):
    """Return {entity: [row, ...]} with rows as lists of strings, in
    HEADERS column order."""
    n_stops, n_routes, trips_per, days = N_STOPS, N_ROUTES, TRIPS_PER, DAYS
    rng = random.Random(seed)
    start = BASE - datetime.timedelta(days=1)          # a Sunday (C8)
    end = BASE + datetime.timedelta(days=days - 1)

    agency = [
        ["a1", "Metro", "https://metro.example", "Europe/Berlin", "DE"],
        ["a2", "Tram Co", "https://tram.example", "Europe/Berlin", "DE"],
        ["a3", "Bus Co", "https://bus.example", "Europe/Berlin", "DE"],
    ]
    agency.append(["a1d"] + agency[0][1:])             # C11

    # stops: n_stops candidates for trips, then n_unused that no trip can
    # serve (C10); a station parents every 20th stop
    n_unused = _count(RATES["stop_unused"], n_stops)
    stops = []
    coords = {}
    for i in range(n_stops + n_unused):
        sid = "s%05d" % i
        lat = round(52.35 + rng.random() * 0.3, 6)
        lon = round(13.10 + rng.random() * 0.6, 6)
        coords[sid] = (lat, lon)
        parent = "st%04d" % (i // 20) if i % 20 == 0 else ""
        stops.append([sid, "c%d" % i, "Stop %d" % i, repr(lat), repr(lon),
                      "0", parent, str(rng.choice([0, 1, 2])),
                      str(rng.randint(1, 4))])
    for j in range(0, n_stops + n_unused, 20):
        sid = "st%04d" % (j // 20)
        lat, lon = coords["s%05d" % j]
        stops.append([sid, "", "Station %d" % (j // 20), repr(lat + 0.0002),
                      repr(lon + 0.0002), "1", "", "0", ""])
    candidates = ["s%05d" % i for i in range(n_stops)]
    for i in rng.sample(range(n_stops), _count(RATES["stop_bad_location_type"], n_stops)):
        stops[i][5] = "7"                               # C2

    # patterns: each route runs one stop sequence per direction
    patterns = {}
    for r in range(n_routes):
        seq = rng.sample(candidates, rng.randint(8, 16))
        seq.sort(key=lambda s: coords[s][1])
        run = [rng.randint(60, 240) for _ in seq[1:]]
        for direction in (0, 1):
            stops_dir = seq if direction == 0 else seq[::-1]
            shape_id = "sh%03d_%d" % (r, direction)
            patterns[(r, direction)] = (stops_dir, run if direction == 0 else run[::-1], shape_id)
    # (0,0) and duplicate stops are drawn from stops that trips call at,
    # so delete-orphans cannot remove them before their own stage does
    served = sorted({s for p in patterns.values() for s in p[0]})
    zero = set(rng.sample(served, _count(RATES["stop_zero_coords"], n_stops)))
    for row in stops:
        if row[0] in zero:
            row[3], row[4] = "0", "0"                   # C4
    dup_of = {}
    for sid in rng.sample(sorted(set(served) - zero),
                          _count(RATES["stop_duplicate"], n_stops)):
        base = next(r for r in stops if r[0] == sid)
        stops.append([sid + "d"] + base[1:])           # C15
        dup_of[sid] = sid + "d"
    for _ in range(_count(RATES["stop_missing_id"], n_stops)):
        stops.append(["", "", "No id", "52.5", "13.4", "0", "", "0", ""])  # C3

    # routes
    routes = []
    for i in range(n_routes):
        a = agency[i % 3][0]
        routes.append(["r%03d" % i, a, str(i + 1), "Line %d" % (i + 1),
                       str(rng.choice([0, 1, 3])), "%06X" % rng.randrange(1 << 24)])
    for i in rng.sample(range(n_routes), _count(RATES["route_bad_type"], n_routes)):
        routes[i][4] = "2000"                           # C2
    dup_routes = {}
    for k, i in enumerate(rng.sample(range(n_routes), _count(RATES["route_duplicate"], n_routes))):
        base = routes[i]
        agency_id = "a1d" if base[1] == "a1" and k % 2 == 0 else base[1]
        routes.append([base[0] + "d", agency_id] + base[2:])  # C12
        dup_routes[base[0]] = base[0] + "d"

    # services
    calendar = [
        ["wk", "1", "1", "1", "1", "1", "0", "0", _ymd(start), _ymd(end)],
        ["sa", "0", "0", "0", "0", "0", "1", "0", _ymd(start), _ymd(end)],
        ["su", "0", "0", "0", "0", "0", "0", "1", _ymd(start), _ymd(end)],
        ["wkd", "1", "1", "1", "1", "1", "0", "0", _ymd(start), _ymd(end)],  # C13
        ["broken", "1", "1", "1", "1", "1", "1", "1", _ymd(start), ""],     # C3
    ]
    span = [start + datetime.timedelta(days=k) for k in range((end - start).days + 1)]
    holiday = BASE + datetime.timedelta(days=(days // 2) // 7 * 7 + 4)  # a Friday
    calendar_dates = [["hol", _ymd(d), "1"] for d in span if d.weekday() == 5]  # C8
    calendar_dates += [["wk", _ymd(holiday), "2"], ["wkd", _ymd(holiday), "2"],
                       ["su", _ymd(holiday), "1"],
                       ["sa", _ymd(BASE + datetime.timedelta(days=2)), "3"]]  # C2

    shapes = []
    n_segments = sum(len(p[0]) - 1 for p in patterns.values())
    collinear = set(rng.sample(range(n_segments), _count(RATES["shape_collinear_point"], n_segments)))
    seg = 0
    for (r, direction), (stops_dir, _, shape_id) in sorted(patterns.items()):
        k = 1
        for i, sid in enumerate(stops_dir):
            lat, lon = coords[sid]
            shapes.append([shape_id, repr(lat), repr(lon), str(k)])
            k += 1
            if i + 1 < len(stops_dir):
                if seg in collinear:                    # C7
                    lat2, lon2 = coords[stops_dir[i + 1]]
                    shapes.append([shape_id, repr(round((lat + lat2) / 2, 7)),
                                   repr(round((lon + lon2) / 2, 7)), str(k)])
                    k += 1
                seg += 1
    shape_ids = sorted({p[2] for p in patterns.values()})
    dup_shapes = {}
    for sid in rng.sample(shape_ids, _count(RATES["shape_duplicate"], len(shape_ids))):
        shapes += [[sid + "d"] + row[1:] for row in shapes if row[0] == sid]  # C14
        dup_shapes[sid] = sid + "d"
    shapes += [["sh_unused", "52.4", "13.2", "1"], ["sh_unused", "52.5", "13.3", "2"]]  # C10

    # trips and stop_times
    trips, stop_times, frequencies = [], [], []

    def add_trip(tid, route_id, service, headsign, direction, shape_id, t0, stops_dir, run, jitter):
        trips.append([tid, route_id, service, headsign, str(direction), shape_id,
                      str(rng.choice([0, 1, 2]))])
        t = t0
        for i, sid in enumerate(stops_dir):
            if i > 0:
                t += run[i - 1] + (jitter if i == 1 else 0)
            dep = t + (30 if 0 < i < len(stops_dir) - 1 else 0)
            stop_times.append([tid, _hms(t), _hms(dep), dup_of.get(sid, sid)
                               if (i + len(tid)) % 3 == 0 else sid,
                               str(i + 1), "0", "0", "1"])
            t = dep

    services = ("wk", "sa", "su", "hol")
    n = 0
    for (r, direction), (stops_dir, run, shape_id) in sorted(patterns.items()):
        route_id = routes[r][0]
        for service in services:
            t0 = 5 * 3600 + rng.randint(0, 1200)
            gap = 72000 // trips_per                    # last departures pass 24:00
            for j in range(trips_per):
                tid = "t%05d" % n
                n += 1
                rid = dup_routes.get(route_id, route_id) if j % 4 == 3 else route_id
                svc = "wkd" if service == "wk" and j % 5 == 4 else service
                shp = dup_shapes.get(shape_id, shape_id) if j % 3 == 2 else shape_id
                shp = "" if j % 17 == 16 else shp       # trips without shape
                add_trip(tid, rid, svc, "To %s" % stops_dir[-1], direction, shp,
                         t0, stops_dir, run, rng.randint(0, 59) + j * 60)
                t0 += gap + rng.randint(-300, 300)
    n_trips = n
    frequencies.append([trips[0][0], "06:00:00", "09:00:00", "600", "0"])

    # constant-headway runs of 4 trips (C9): same route, service and
    # running times, equal gaps; placed in the night so they never tie
    # with ordinary trips
    for k in range(_count(RATES["trip_constant_headway_run"], n_trips)):
        (stops_dir, run, shape_id) = patterns[(k % n_routes, k % 2)]
        base_t = 1 * 3600 + k * 97
        for j in range(4):
            add_trip("h%03d_%d" % (k, j), routes[k % n_routes][0], "wk", "Night",
                     k % 2, shape_id, base_t + j * 900, stops_dir, run, 0)

    ordinary = [row for row in trips if row[0].startswith("t")]
    for row in rng.sample(ordinary, _count(RATES["trip_duplicate"], n_trips)):
        tid = row[0]
        trips.append([tid + "d"] + row[1:])            # C16
        stop_times += [[tid + "d"] + st[1:] for st in stop_times if st[0] == tid]
    for k in range(_count(RATES["trip_orphan_service"], n_trips)):
        stops_dir, run, shape_id = patterns[(k % n_routes, 0)]
        add_trip("o%03d" % k, routes[k % n_routes][0], "svc_gone", "Nowhere", 0,
                 shape_id, 8 * 3600 + k * 60, stops_dir, run, 0)  # C10
    for k in range(_count(RATES["trip_missing_service"], n_trips)):
        stops_dir, run, shape_id = patterns[(k % n_routes, 1)]
        add_trip("m%03d" % k, routes[k % n_routes][0], "", "Unknown", 1,
                 shape_id, 9 * 3600 + k * 60, stops_dir, run, 0)  # C3
    add_trip("b000", routes[0][0], "broken", "Broken", 0, "", 10 * 3600,
             patterns[(0, 0)][0], patterns[(0, 0)][1], 0)

    n_st = len(stop_times)
    for i in rng.sample(range(n_st), _count(RATES["stop_time_bad_pickup"], n_st)):
        stop_times[i][5] = "5"                          # C2
    for i in rng.sample(range(n_st), _count(RATES["stop_time_missing_sequence"], n_st)):
        stop_times[i][4] = ""                           # C3
    for i in rng.sample(range(n_st), _count(RATES["stop_time_orphan_stop"], n_st)):
        stop_times[i][3] = "s_gone"                     # C10

    transfers = [[dup_of[s], rng.choice(candidates), "0"] for s in sorted(dup_of)[:5]]
    transfers += [[rng.choice(candidates), rng.choice(candidates), "2"] for _ in range(5)]

    translations = []
    for sid in rng.sample(candidates, _count(RATES["translation"], n_stops)):
        translations.append(["stops", "stop_name", "EN", "Stop %s (en)" % sid, sid, "", ""])
    for r in rng.sample(range(n_routes), _count(RATES["translation"], n_routes)):
        translations.append(["routes", "route_long_name", "FR", "Ligne %d" % (r + 1),
                             "", "", "Line %d" % (r + 1)])

    feed_info = [["Synthetic Transit", "https://transit.example", "DE",
                  _ymd(start), _ymd(end), ""]]
    return {
        "agency": agency, "stops": stops, "routes": routes, "trips": trips,
        "stop_times": stop_times, "calendar": calendar,
        "calendar_dates": calendar_dates, "frequencies": frequencies,
        "shapes": shapes, "transfers": transfers, "feed_info": feed_info,
        "translations": translations,
    }


def _csv(header, rows):
    out = io.StringIO()
    out.write(",".join(header) + "\n")
    for row in rows:
        out.write(",".join(row) + "\n")
    return out.getvalue().encode()


def with_version(files, version):
    """The same feed with feed_info.feed_version set to `version`."""
    out = dict(files)
    out["feed_info"] = [row[:-1] + [version] for row in files["feed_info"]]
    return out


def write_zip(files, path):
    """Write the feed as a zip with fixed entry timestamps; returns the
    total uncompressed size in bytes."""
    total = 0
    tmp = path + ".tmp"
    with zipfile.ZipFile(tmp, "w", zipfile.ZIP_DEFLATED) as z:
        for name in sorted(files):
            data = _csv(HEADERS[name], files[name])
            total += len(data)
            z.writestr(zipfile.ZipInfo(name + ".txt", (2024, 1, 1, 0, 0, 0)), data,
                      compress_type=zipfile.ZIP_DEFLATED)
    os.replace(tmp, path)
    return total
