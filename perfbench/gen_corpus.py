#!/usr/bin/env python3
"""Seeded Betfair corpus generator for the bfdb benchmark.

    python3 gen_corpus.py --seed 7 --out DIR [--workers 4]

Writes Betfair historical-data files under DIR/corpus in the
betfair_historical layout (``year/Mon/day/eventId``): per-market catalogue
JSON, bulk ``metadata.json`` and exchange-stream captures as
plaintext/gz/bz2/zip. Most markets are a catalogue plus a ``.bz2`` stream;
about a fifth are stream-only, so their definition must be extracted from
the stream (plaintext ones are 0.4-1 MB, so the tail read has a long file
to skip); a few directories use bulk metadata; a handful of files are
orphaned, corrupt or downloaded twice; horse and greyhound WIN/PLACE pairs
share race keys. A pool of per-market tennis markets is the target of
duplicate inserts.

DIR/batches holds one maintenance cycle: an insert batch per duplicate
policy (update, skip, replace), each with new racing markets plus
duplicates of pool markets (identical, changed metadata, larger data
file). DIR/expect.json holds what the program must report: the index
counters, the rows with a race id, each insert's action split (the
generator simulates the reference's duplicate policies), the data files a
clean deletes, and the row count of every select in the mix. The same seed
always gives the same files and expectations.
"""
import argparse
import bz2
import gzip
import io
import json
import multiprocessing
import os
import random
import sys
import time
import zipfile

MONTHS = ["Jan", "Feb", "Mar", "Apr", "May", "Jun", "Jul", "Aug", "Sep",
          "Oct", "Nov", "Dec"]

HORSE_VENUES = [("Ascot", "GB", "Europe/London"),
                ("Cheltenham", "GB", "Europe/London"),
                ("Newmarket", "GB", "Europe/London"),
                ("Kempton", "GB", "Europe/London"),
                ("Doncaster", "GB", "Europe/London"),
                ("Leopardstown", "IE", "Europe/Dublin"),
                ("Curragh", "IE", "Europe/Dublin")]
GREY_VENUES = [("Sheffield", "GB", "Europe/London"),
               ("Romford", "GB", "Europe/London"),
               ("Towcester", "GB", "Europe/London"),
               ("Hove", "GB", "Europe/London"),
               ("The Meadows", "AU", "Australia/Melbourne"),
               ("Sandown Park", "AU", "Australia/Melbourne")]
US_VENUES = [("Belmont Park", "US", "America/New_York"),
             ("Santa Anita", "US", "America/Los_Angeles"),
             ("Churchill Downs", "US", "America/Kentucky/Louisville")]
HORSE_NAMES = ["2m4f Hcap Chs", "7f Mdn Stks", "1m2f Hcap", "5f Nov Stks",
               "3m Hcap Hrd", "1m Listed", "6f Class 4"]
GREY_NAMES = ["A2 462m", "R4 405m Gr3/4", "OR 280m", "A5 500m", "D3 285m",
              "S1 660m"]
SOCCER = [("GB", "Europe/London", "English Premier League", "10932509"),
          ("DE", "Europe/Berlin", "German Bundesliga", "59"),
          ("ES", "Europe/Madrid", "Spanish La Liga", "117"),
          ("IT", "Europe/Rome", "Italian Serie A", "81")]


def iso(y, mo, d, h, mi):
    return "%04d-%02d-%02dT%02d:%02d:00.000Z" % (y, mo, d, h, mi)


# ---------------------------------------------------------------- markets

def market(mid, name, mtype, et_id, et_name, venue, cc, tz, start, ev_id,
           ev_name, open_date, n_runners, comp=None, rev=0):
    """One market's attributes; ``rev`` > 0 marks a re-issued catalogue."""
    return {"id": mid, "name": name + (" (rev %d)" % rev if rev else ""),
            "type": mtype, "et": et_id, "etName": et_name, "venue": venue,
            "cc": cc, "tz": tz, "start": start, "ev": ev_id,
            "evName": ev_name, "open": open_date, "runners": n_runners,
            "comp": comp}


def catalogue(m):
    desc = {"persistenceEnabled": True, "bspMarket": m["et"] in ("7", "4339"),
            "marketTime": m["start"], "suspendTime": m["start"],
            "bettingType": "ODDS", "turnInPlayEnabled": m["et"] in ("1", "2"),
            "marketType": m["type"],
            "priceLadderDescription": {"type": "CLASSIC"},
            "regulator": "MALTA LOTTERIES AND GAMBLING AUTHORITY"}
    if m["et"] == "7":
        desc["raceType"] = "Flat"
        desc["eachWayDivisor"] = 4.0
    event = {"id": m["ev"], "name": m["evName"], "countryCode": m["cc"],
             "timezone": m["tz"], "openDate": m["open"]}
    if m["venue"] is not None:
        event["venue"] = m["venue"]
    out = {"marketId": m["id"], "marketName": m["name"],
           "marketStartTime": m["start"], "description": desc,
           "eventType": {"id": m["et"], "name": m["etName"]},
           "event": event,
           "runners": [{"selectionId": 1000 + i, "runnerName": "Runner %d" % i,
                        "handicap": 0.0, "sortPriority": i}
                       for i in range(1, m["runners"] + 1)]}
    if m["comp"] is not None:
        out["competition"] = {"id": m["comp"][0], "name": m["comp"][1]}
    return out


def definition(m, status):
    d = {"bspMarket": m["et"] in ("7", "4339"), "turnInPlayEnabled": False,
         "persistenceEnabled": True, "marketBaseRate": 5.0,
         "eventId": m["ev"], "eventTypeId": m["et"], "numberOfWinners":
         1 if m["type"] == "WIN" else 2, "bettingType": "ODDS",
         "marketType": m["type"], "marketTime": m["start"],
         "suspendTime": m["start"], "bspReconciled": status == "CLOSED",
         "complete": True, "inPlay": False, "crossMatching": True,
         "runnersVoidable": False, "numberOfActiveRunners": m["runners"],
         "betDelay": 0, "status": status, "name": m["name"],
         "eventName": m["evName"], "countryCode": m["cc"],
         "timezone": m["tz"], "openDate": m["open"], "version": 4000000000,
         "priceLadderDefinition": {"type": "CLASSIC"},
         "runners": [{"status": "ACTIVE", "sortPriority": i,
                      "id": 44000000 + i} for i in range(1, m["runners"] + 1)]}
    if m["venue"] is not None:
        d["venue"] = m["venue"]
    return d


def stream_lines(m, n_lines, rng, with_definition=True, tail=None):
    """Exchange-stream capture: an opening definition, price updates, the
    last definition ``tail`` lines before the end."""
    sep = (",", ":")
    if tail is None:
        tail = rng.randint(1, 8)
    pt = 1650390000000 + rng.randint(0, 10 ** 9)
    lines = []
    if with_definition:
        lines.append(json.dumps({"op": "mcm", "clk": "1", "pt": pt, "mc": [
            {"id": m["id"], "marketDefinition": definition(m, "OPEN"),
             "rc": []}]}, separators=sep))
    for i in range(max(0, n_lines - len(lines) - 1 - tail)):
        sel = 44000000 + rng.randint(1, max(1, m["runners"]))
        lines.append('{"op":"mcm","clk":"%d","pt":%d,"mc":[{"id":"%s","rc":'
                     '[{"atb":[[%.2f,%.2f]],"atl":[[%.2f,%.2f]],"id":%d}]}]}'
                     % (i + 2, pt + 250 * i, m["id"],
                        rng.uniform(1.5, 30), rng.uniform(1, 500),
                        rng.uniform(1.5, 30), rng.uniform(1, 500), sel))
    if with_definition:
        lines.append(json.dumps({"op": "mcm", "clk": "c", "pt": pt + 10 ** 6,
                                 "mc": [{"id": m["id"], "marketDefinition":
                                         definition(m, "CLOSED"), "rc": []}]},
                                separators=sep))
    for i in range(tail):
        lines.append('{"op":"mcm","clk":"t%d","pt":%d,"mc":[{"id":"%s","rc":'
                     '[{"tv":%.2f,"id":%d}]}]}'
                     % (i, pt + 10 ** 6 + i, m["id"], rng.uniform(1, 900),
                        44000001))
    return ("\n".join(lines) + "\n").encode()


def zip_bytes(entry, body):
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w", zipfile.ZIP_DEFLATED) as z:
        info = zipfile.ZipInfo(entry, date_time=(2023, 1, 1, 0, 0, 0))
        info.compress_type = zipfile.ZIP_DEFLATED
        z.writestr(info, body)
    return buf.getvalue()


def gz_bytes(body):
    return gzip.compress(body, 6, mtime=0)


def write_file(spec):
    """Materialise one file spec (runs in a worker process)."""
    path, kind, payload = spec
    os.makedirs(os.path.dirname(path), exist_ok=True)
    if kind == "raw":
        data = payload
    elif kind == "json":
        data = json.dumps(payload, separators=(",", ":")).encode()
    else:
        m, n_lines, seed, fmt, with_def = payload
        body = stream_lines(m, n_lines, random.Random(seed), with_def)
        if fmt == "bz2":
            data = bz2.compress(body, 9)
        elif fmt == "gz":
            data = gz_bytes(body)
        elif fmt == "zip":
            data = zip_bytes(m["id"], body)
        else:
            data = body
    with open(path, "wb") as f:
        f.write(data)
    return len(data)


def write_all(specs, workers):
    if workers <= 1:
        return [write_file(s) for s in specs]
    with multiprocessing.Pool(workers) as pool:
        return pool.map(write_file, specs, chunksize=64)


def race_rows(markets):
    """Index rows that get a raceId: racing markets whose race (type,
    country, venue, start) has an indexed WIN market."""
    win_keys = {(m["et"], m["cc"], m["venue"], m["start"]) for m in markets
                if m["et"] in ("7", "4339") and m["type"] == "WIN"}
    return sum(1 for m in markets if m["et"] in ("7", "4339")
               and (m["et"], m["cc"], m["venue"], m["start"]) in win_keys)


# ------------------------------------------------------------ event models

class Ids:
    def __init__(self, seed):
        self.market = 200000000 + (seed % 5000) * 10000
        self.event = 30000000 + (seed % 5000) * 1000

    def next_market(self):
        self.market += 1
        return "1.%d" % self.market

    def next_event(self):
        self.event += 1
        return str(self.event)


def racing_event(rng, ids, et, year, month, day, venues=None, races=None):
    venue, cc, tz = rng.choice(venues or (HORSE_VENUES if et == "7"
                                          else GREY_VENUES))
    names = HORSE_NAMES if et == "7" else GREY_NAMES
    ev = ids.next_event()
    ev_name = "%s %dth %s" % (venue, day, MONTHS[month - 1])
    hour = rng.randint(11, 19)
    open_date = iso(year, month, day, hour, 0)
    out = []
    for r in range(races or rng.randint(3, 6)):
        start = iso(year, month, day, min(23, hour + (r * 17 + 5) // 60),
                    (r * 17 + 5) % 60)
        runners = rng.randint(5, 12)
        win = market(ids.next_market(), rng.choice(names), "WIN", et,
                     "Horse Racing" if et == "7" else "Greyhound Racing",
                     venue, cc, tz, start, ev, ev_name, open_date, runners)
        place = market(ids.next_market(), "To Be Placed", "PLACE", et,
                       win["etName"], venue, cc, tz, start, ev, ev_name,
                       open_date, runners)
        out += [win, place]
    return out


def soccer_event(rng, ids, year, month, day):
    cc, tz, comp, comp_id = rng.choice(SOCCER)
    ev = ids.next_event()
    ev_name = "Team %d v Team %d" % (rng.randint(1, 40), rng.randint(41, 80))
    start = iso(year, month, day, rng.randint(12, 21), rng.choice([0, 30, 45]))
    return [market(ids.next_market(), n, t, "1", "Soccer", None, cc, tz,
                   start, ev, ev_name, start, r, (comp_id, comp))
            for n, t, r in [("Match Odds", "MATCH_ODDS", 3),
                            ("Over/Under 2.5 Goals", "OVER_UNDER_25", 2)]]


# ------------------------------------------------------------------ corpus

POLICIES = ["update", "skip", "replace"]

MARKETS = 300         # historical markets, before the duplicate pool
POOL_EVENTS = 3       # tennis events of the duplicate pool ...
POOL_PER_EVENT = 20   # ... with this many markets each: a 60-market pool
BATCH = 60            # markets per insert batch ...
NEW = 16              # ... of which new (the rest duplicate pool markets)


def hist_dir(root, m):
    """betfair_historical layout: year/Mon/day/eventId, from the start
    time (ImportPatterns.betfairHistorical, no settled times here)."""
    y, mo, d = int(m["start"][:4]), int(m["start"][5:7]), int(m["start"][8:10])
    return os.path.join(root, str(y), MONTHS[mo - 1], str(d), m["ev"])


def pool_market(mid, ev, start, rev):
    return market(mid, "Match Odds", "MATCH_ODDS", "2", "Tennis", None, "GB",
                  "Europe/London", start, ev, "Player %s v Player B" % ev,
                  start, 2, rev=rev)


def pool_stream(m, dv):
    """A pool market's data file at data version ``dv``; a higher version
    is a strictly larger file."""
    seed = (int(m["id"].split(".")[1]) * 31 + dv * 1000003) % (1 << 30)
    return (m, 40 + 60 * dv, seed, "bz2", True)


def historical(rng, ids, root, n_markets, specs):
    """Markets in the betfair_historical layout under ``root``; returns
    the markets that must become index rows, the expected counters and a
    count of each file kind."""
    indexed = []
    c = {"totalMarkets": 0, "marketsWithoutData": 0,
         "marketsWithoutMetadata": 0, "corruptFiles": 0, "rowsInserted": 0}
    kinds = {}

    def bump(k):
        kinds[k] = kinds.get(k, 0) + 1

    def stream(path, m, fmt, lines, with_def=True):
        specs.append((path, "stream", (m, lines, rng.randrange(1 << 30), fmt,
                                       with_def)))

    made = 0
    while made < n_markets:
        year = rng.choice([2022, 2023])
        month, day = rng.randint(1, 12), rng.randint(1, 28)
        roll = rng.random()
        if roll < 0.45:
            ms = racing_event(rng, ids, "7", year, month, day)
        elif roll < 0.85:
            ms = racing_event(rng, ids, "4339", year, month, day)
        else:
            ms = soccer_event(rng, ids, year, month, day)
        d = hist_dir(root, ms[0])
        made += len(ms)
        if rng.random() < 0.04:
            # bulk metadata: one array for the directory, .bz2 streams beside
            specs.append((os.path.join(d, "metadata.json"), "json",
                          [catalogue(m) for m in ms]))
            for m in ms:
                stream(os.path.join(d, m["id"] + ".bz2"), m, "bz2",
                       rng.randint(100, 300))
                indexed.append(m)
                bump("bulk")
                c["totalMarkets"] += 1
            continue
        for m in ms:
            base = os.path.join(d, m["id"])
            c["totalMarkets"] += 1
            r = rng.random()
            if r < 0.005:
                specs.append((base + ".json", "json", catalogue(m)))
                c["marketsWithoutData"] += 1
                bump("orphan_metadata")
            elif r < 0.010:
                specs.append((base + ".json", "raw", b"{not valid json!!"))
                stream(base + ".bz2", m, "bz2", rng.randint(100, 300))
                c["corruptFiles"] += 1
                bump("corrupt_metadata")
            elif r < 0.013:
                specs.append((base + ".json", "raw", b""))
                stream(base + ".bz2", m, "bz2", rng.randint(100, 300))
                c["corruptFiles"] += 1
                bump("empty_metadata")
            elif r < 0.018:
                fmt = rng.choice(["plain", "gz"])
                stream(base + (".gz" if fmt == "gz" else ""), m, fmt,
                       rng.randint(200, 400), with_def=False)
                c["marketsWithoutMetadata"] += 1
                bump("stream_no_definition")
            elif r < 0.021:
                fmt = rng.choice([".gz", ".bz2"])
                specs.append((base + fmt, "raw",
                              bytes(rng.randrange(256) for _ in range(2048))))
                if fmt == ".gz":
                    c["corruptFiles"] += 1
                else:
                    # Hadoop's bzip2 codec reads a file without the "BZh"
                    # header as an empty stream, so extraction finds no
                    # definition and the market counts as without metadata
                    # (Python's BZ2File, as in the reference, would raise)
                    c["marketsWithoutMetadata"] += 1
                bump("garbage_stream" + fmt.replace(".", "_"))
            elif r < 0.221:
                fmt = rng.choice(["plain", "gz", "bz2", "zip"])
                # plaintext captures as long as the reference's (~1 MB), so
                # the backward tail read skips most of each file
                stream(base + ("" if fmt == "plain" else "." + fmt), m, fmt,
                       rng.randint(2800, 7000) if fmt == "plain"
                       else rng.randint(200, 400))
                indexed.append(m)
                bump("stream_only_" + fmt)
            else:
                specs.append((base + ".json", "json", catalogue(m)))
                stream(base + ".bz2", m, "bz2", rng.randint(100, 300))
                indexed.append(m)
                bump("catalogue_bz2")
                if rng.random() < 0.005:
                    # the same market downloaded twice into another day dir
                    dd = os.path.join(root, str(year), MONTHS[month - 1],
                                      str(day % 28 + 1), m["ev"], m["id"])
                    specs.append((dd + ".json", "json", catalogue(m)))
                    stream(dd + ".bz2", m, "bz2", rng.randint(100, 300))
                    indexed.append(m)
                    c["totalMarkets"] += 1
                    bump("duplicate_copy")
    c["rowsInserted"] = len(indexed)
    return indexed, c, kinds


def gen_bfdb(seed, out, workers):
    """The corpus to index (``corpus/``), one maintenance cycle of insert
    batches (``batches/``) and ``expect.json``."""
    rng = random.Random(seed)
    ids = Ids(seed)
    root = os.path.join(out, "corpus")
    specs = []
    indexed, c, kinds = historical(rng, ids, root, MARKETS, specs)

    def bump(k):
        kinds[k] = kinds.get(k, 0) + 1

    def stream(path, m, fmt, lines, with_def=True):
        specs.append((path, "stream", (m, lines, rng.randrange(1 << 30), fmt,
                                       with_def)))

    corpus_rows = list(indexed)

    # the duplicate pool: per-market tennis catalogues (2024)
    pool = {}
    state = {}
    for e in range(POOL_EVENTS):
        ev = ids.next_event()
        start = iso(2024, 1 + e % 12, 1 + e % 28, 13, 0)
        for _ in range(POOL_PER_EVENT):
            m = pool_market(ids.next_market(), ev, start, 0)
            pool[m["id"]] = m
            state[m["id"]] = {"rev": 0, "dv": 0}
            d = hist_dir(root, m)
            specs.append((os.path.join(d, m["id"] + ".json"), "json",
                          catalogue(m)))
            specs.append((os.path.join(d, m["id"] + ".bz2"), "stream",
                          pool_stream(m, 0)))
            indexed.append(m)
            c["totalMarkets"] += 1
            bump("pool_catalogue_bz2")
    c["rowsInserted"] = len(indexed)
    base_rows = len(indexed)

    # one maintenance cycle: a batch per duplicate policy, each holding new
    # US racing markets (2025) and duplicates of pool markets; the policy is
    # simulated to predict the action split (reference market.py:146-178)
    db = os.path.join(out, "db")
    ops = []
    doomed = []
    for pol in POLICIES:
        bdir = os.path.join(out, "batches", pol)
        news = []
        while len(news) < NEW:
            news += racing_event(rng, ids, "7", 2025, rng.randint(1, 12),
                                 rng.randint(1, 28), venues=US_VENUES,
                                 races=max(1, min(6, (NEW - len(news)) // 2)))
        for m in news:
            d = os.path.join(bdir, m["ev"])
            specs.append((os.path.join(d, m["id"] + ".json"), "json",
                          catalogue(m)))
            stream(os.path.join(d, m["id"] + ".bz2"), m, "bz2",
                   rng.randint(20, 60))
            doomed.append(os.path.join(hist_dir(db, m), m["id"] + ".bz2"))
        n_dup = BATCH - len(news)
        chosen = rng.sample(sorted(pool), n_dup)
        n_same, n_changed = n_dup // 2, n_dup * 2 // 7
        split = {"INSERT": len(news), "UPDATE": 0, "SKIP": 0}
        for i, mid in enumerate(chosen):
            st = state[mid]
            if i < n_same:
                rev, dv, kind = st["rev"], st["dv"], "same"
            elif i < n_same + n_changed:
                rev, dv, kind = st["rev"] + 1, st["dv"], "changed"
            else:
                rev, dv, kind = st["rev"], st["dv"] + 1, "larger"
            m = pool_market(mid, pool[mid]["ev"], pool[mid]["start"], rev)
            d = os.path.join(bdir, m["ev"])
            specs.append((os.path.join(d, mid + ".json"), "json",
                          catalogue(m)))
            specs.append((os.path.join(d, mid + ".bz2"), "stream",
                          pool_stream(m, dv)))
            if pol == "skip":
                split["SKIP"] += 1
            elif pol == "replace":
                split["UPDATE"] += 1
                st["rev"], st["dv"] = rev, dv
            elif kind == "changed":
                split["UPDATE"] += 1
                st["rev"] = rev
            else:
                # identical row; a larger data file is still moved in
                split["SKIP"] += 1
                st["dv"] = dv
        ops.append({"policy": pol, "dir": bdir, "split": split,
                    "counters": {"totalMarkets": BATCH,
                                 "marketsWithoutData": 0,
                                 "marketsWithoutMetadata": 0,
                                 "corruptFiles": 0,
                                 "rowsInserted": split["INSERT"] +
                                 split["UPDATE"],
                                 "marketsUpdated": split["UPDATE"],
                                 "marketsSkipped": split["SKIP"]}})

    # the select mix: predicates over the corpus markets, whose rows no
    # insert or clean touches (pool markets are tennis in 2024, new ones
    # US racing in 2025)
    def count(pred):
        return sum(1 for m in corpus_rows if pred(m))
    racing = [m for m in corpus_rows if m["et"] in ("7", "4339")]
    venue = rng.choice(sorted({m["venue"] for m in racing}))
    points = rng.sample(sorted({m["id"] for m in corpus_rows
                                if corpus_rows.count(m) == 1}), 3)
    selects = [{"name": "point_%d" % i, "where": "marketId = '%s'" % p,
                "rows": sum(1 for m in corpus_rows if m["id"] == p)}
               for i, p in enumerate(points)]
    selects += [
        {"name": "racing_venue",
         "where": "eventTypeId IN ('7','4339') AND eventVenue = '%s'" % venue,
         "rows": count(lambda m: m["et"] in ("7", "4339")
                       and m["venue"] == venue)},
        {"name": "racing_country",
         "where": "eventTypeId = '4339' AND eventCountryCode = 'AU'",
         "rows": count(lambda m: m["et"] == "4339" and m["cc"] == "AU")},
        {"name": "start_between",
         "where": "marketStartTime BETWEEN '2023-05-01T00:00:00.000Z' AND "
                  "'2023-05-31T23:59:59.999Z'",
         "rows": count(lambda m: m["start"].startswith("2023-05"))},
        {"name": "strftime_month",
         "where": "strftime('%m', to_timestamp(marketStartTime)) == '06' "
                  "AND marketStartTime < '2024'",
         "rows": count(lambda m: m["start"][5:7] == "06")},
        {"name": "time_evening",
         "where": "time(to_timestamp(marketStartTime)) > '18:30:00' "
                  "AND marketStartTime < '2024'",
         "rows": count(lambda m: m["start"][11:19] > "18:30:00")},
        {"name": "project_limit", "columns": ["marketId", "eventVenue",
                                              "marketStartTime"],
         "where": "eventTypeId IN ('7','4339')", "limit": 50, "rows": 50},
        {"name": "size", "size": True, "rows": base_rows + 3 * NEW},
    ]
    sizes = write_all(specs, workers)
    expect = {"counters": c, "raceIdRows": race_rows(indexed),
              "baseRows": base_rows, "ops": ops, "cleanDelete": doomed,
              "selects": selects, "files": len(specs), "bytes": sum(sizes),
              "kinds": kinds}
    with open(os.path.join(out, "expect.json"), "w") as f:
        json.dump(expect, f, indent=1, sort_keys=True)
    return expect


def main(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--workers", type=int, default=4)
    a = ap.parse_args(argv)
    t0 = time.time()
    os.makedirs(a.out, exist_ok=True)
    e = gen_bfdb(a.seed, a.out, a.workers)
    print(json.dumps({"files": e["files"], "bytes": e["bytes"],
                      "seconds": round(time.time() - t0, 3)}))


if __name__ == "__main__":
    main(sys.argv[1:])
