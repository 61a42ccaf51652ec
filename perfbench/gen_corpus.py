"""Seeded reference-shape listings corpus for the pipeline workloads.

Writes monthly ``listings_MM_YYYY.csv`` files plus the census and
geography side files that ``graft.pipeline.AirbnbPipeline`` reads, and,
while writing, records what the pipeline must compute from them:

* ``expected.tsv``: one line per (view, group key, column) with the exact
  value each of the four KPI views must hold for the files written;
* ``counts.json``: raw rows, planted drops by reason, and bytes per file.

The recipe follows the test suite's ``ScaleFixtures`` (the 74/102/106
column split, mixed-case headers on the first two months, planted
``(id, filename)`` duplicates) and adds what those rows lack: a listing
pool that recurs month over month, hosts that own several listings,
several LGAs, NULL price and NULL host rows under every NULL spelling,
out-of-month scrapes, and wide free-text columns carrying quoted
newlines and quotes.

Every value comes from ``random.Random(seed)``, so one seed gives
byte-identical files. perfbench/run.py calls
``generate(out, seed, months, rows, extra_every)``.
"""

import csv
import json
import os
import random
from collections import defaultdict

# The canonical 74-column listings schema (graft.pipeline.ListingSchema).
COLUMNS = [
    "id", "listing_url", "scrape_id", "last_scraped", "name",
    "description", "neighborhood_overview", "picture_url", "host_id",
    "host_url", "host_name", "host_since", "host_location", "host_about",
    "host_response_time", "host_response_rate", "host_acceptance_rate",
    "host_is_superhost", "host_thumbnail_url", "host_picture_url",
    "host_neighbourhood", "host_listings_count",
    "host_total_listings_count", "host_verifications",
    "host_has_profile_pic", "host_identity_verified", "neighbourhood",
    "neighbourhood_cleansed", "neighbourhood_group_cleansed", "latitude",
    "longitude", "property_type", "room_type", "accommodates", "bathrooms",
    "bathrooms_text", "bedrooms", "beds", "amenities", "price",
    "minimum_nights", "maximum_nights", "minimum_minimum_nights",
    "maximum_minimum_nights", "minimum_maximum_nights",
    "maximum_maximum_nights", "minimum_nights_avg_ntm",
    "maximum_nights_avg_ntm", "calendar_updated", "has_availability",
    "availability_30", "availability_60", "availability_90",
    "availability_365", "calendar_last_scraped", "number_of_reviews",
    "number_of_reviews_ltm", "number_of_reviews_l30d", "first_review",
    "last_review", "review_scores_rating", "review_scores_accuracy",
    "review_scores_cleanliness", "review_scores_checkin",
    "review_scores_communication", "review_scores_location",
    "review_scores_value", "license", "instant_bookable",
    "calculated_host_listings_count",
    "calculated_host_listings_count_entire_homes",
    "calculated_host_listings_count_private_rooms",
    "calculated_host_listings_count_shared_rooms", "reviews_per_month"]
assert len(COLUMNS) == 74

# Columns of the older 102/106-column scrapes that the canonical schema drops.
EXTRAS = [
    "summary", "space", "experiences_offered", "notes", "transit",
    "access", "interaction", "house_rules", "thumbnail_url", "medium_url",
    "xl_picture_url", "street", "city", "state", "zipcode", "market",
    "smart_location", "country_code", "country", "is_location_exact",
    "square_feet", "weekly_price", "monthly_price", "security_deposit",
    "cleaning_fee", "guests_included", "extra_people", "has_license",
    "jurisdiction_names", "cancellation_policy",
    "require_guest_profile_picture", "require_guest_phone_verification",
    "region_id", "region_name"]

# (LGA code, LGA name, suburbs). Suburb names pass Cleanse.normSuburb
# unchanged apart from upper-casing, and the two the fact's manual fixups
# name (North Curl Curl, Darling Harbour) sit in the LGA the fixup picks.
LGAS = [
    (17200, "SYDNEY", ["Sydney", "Pyrmont", "Darling Harbour", "Surry Hills", "Ultimo"]),
    (15990, "NORTHERN BEACHES", ["North Curl Curl", "Manly", "Dee Why", "Avalon Beach"]),
    (18050, "WAVERLEY", ["Bondi Beach", "Bronte", "Tamarama"]),
    (16550, "RANDWICK", ["Coogee", "Randwick", "Maroubra"]),
    (14170, "INNER WEST", ["Newtown", "Balmain", "Leichhardt"]),
    (15950, "NORTH SYDNEY", ["Kirribilli", "Neutral Bay"]),
]
SUBURB_LGA = {s: name for _, name, subs in LGAS for s in subs}
SUBURBS = [s for _, _, subs in LGAS for s in subs]
UNKNOWN_SUBURB = "Wollombi Creek"  # in no geography file: falls to the sentinel

PROPERTY_TYPES = ["Entire apartment", "Private room in house", "Entire house",
                  "Entire townhouse", "Private room in apartment", "Entire loft"]
ROOM_TYPES = ["Entire home/apt", "Private room", "Shared room"]
NULL_SPELLINGS = ["", "NULL", "\\N", "NUL"]
WORDS = ("harbour view quiet sunny spacious bright cosy modern renovated "
         "beach walk cafe park train bus ferry balcony garden pool kitchen "
         "laundry parking wifi family friendly close city centre heritage "
         "terrace studio loft minutes shops restaurants").split()
AMENITIES = ["Wifi", "Kitchen", "Washer", "Dryer", "Air conditioning",
             "Heating", "Dedicated workspace", "TV", "Hair dryer", "Iron",
             "Pool", "Hot tub", "Free parking on premises", "Gym",
             "Smoke alarm", "Carbon monoxide alarm", "Essentials",
             "Hangers", "Shampoo", "Coffee maker", "Microwave"]

START = (2020, 5)  # the reference's first monthly scrape, 05_2020


def month_of(i):
    """(year, month) of month index i, counting from START."""
    k = START[0] * 12 + START[1] - 1 + i
    return k // 12, k % 12 + 1


def variant(i):
    """(columns, mixed-case header) of month index i: the reference's split
    repeats every twelve months: 106 columns with mixed-case headers, then
    102, then the canonical 74."""
    j = i % 12
    if j <= 1:
        drop = {"bathrooms_text", "number_of_reviews_l30d"}
        return [c for c in COLUMNS if c not in drop] + EXTRAS, True
    if j == 2:
        drop = {"number_of_reviews_l30d", "bathrooms"}
        return [c for c in COLUMNS if c not in drop] + EXTRAS[:30], False
    return COLUMNS, False


def sentence(rng, lo, hi):
    return " ".join(rng.choice(WORDS) for _ in range(rng.randint(lo, hi)))


def free_text(rng, lo, hi):
    """A wide free-text value with quoted newlines and embedded quotes."""
    parts = []
    for _ in range(rng.randint(lo, hi)):
        s = sentence(rng, 6, 16).capitalize()
        r = rng.random()
        if r < 0.25:
            s += ' "' + sentence(rng, 1, 3) + '"'
        elif r < 0.35:
            s += " It's 5' to the " + rng.choice(WORDS)
        parts.append(s + ".")
    return "\n".join(parts) if rng.random() < 0.6 else " ".join(parts)


def amenities(rng):
    picked = rng.sample(AMENITIES, rng.randint(4, 14))
    return "[" + ", ".join('"%s"' % a for a in picked) + "]"


def money(v):
    return "${:,}.00".format(v)


class Listing:
    """The month-invariant attributes of one pooled listing."""

    __slots__ = ("id", "host_id", "suburb", "cleansed", "ptype", "rtype",
                 "accommodates", "base_price", "name", "lat", "lon")

    def __init__(self, rng, lid, host_id):
        self.id = lid
        self.host_id = host_id
        r = rng.random()
        if r < 0.01:
            self.suburb = None  # NULL neighbourhood: the 'OTHER' sentinel
        elif r < 0.02:
            self.suburb = UNKNOWN_SUBURB
        else:
            self.suburb = rng.choice(SUBURBS)
        lga = SUBURB_LGA.get(self.suburb, "Other")
        self.cleansed = lga.title()
        self.ptype = rng.choice(PROPERTY_TYPES)
        self.rtype = ROOM_TYPES[0] if self.ptype.startswith("Entire") else rng.choice(ROOM_TYPES[1:])
        self.accommodates = rng.randint(1, 8)
        self.base_price = rng.randint(45, 1400)
        self.name = sentence(rng, 3, 7).title()
        self.lat = round(-33.95 + rng.random() * 0.25, 5)
        self.lon = round(151.10 + rng.random() * 0.20, 5)


class Host:
    __slots__ = ("id", "name", "location", "superhost", "since", "about")

    def __init__(self, rng, hid):
        self.id = hid
        self.name = rng.choice(["Ann", "Bo", "Chen", "Dev", "Eli", "Fatima",
                                "Gus", "Hiro", "Ines", "Jack", "Kiri", "Lea"])
        r = rng.random()
        if r < 0.02:
            self.location = None  # NULL host_location: the 'MISSING' sentinel
        elif r < 0.04:
            self.location = UNKNOWN_SUBURB + ", New South Wales, Australia"
        else:
            self.location = rng.choice(SUBURBS) + ", New South Wales, Australia"
        self.superhost = "t" if rng.random() < 0.3 else "f"
        self.since = "20%02d-%02d-%02d" % (rng.randint(10, 19), rng.randint(1, 12), rng.randint(1, 28))
        self.about = free_text(rng, 1, 4)


def host_suburb_lga(loc):
    """host_lga as Warehouse.factListing derives it from host_location."""
    if loc is None:
        return "MISSING"
    sub = loc.split(",")[0].strip()
    for name in SUBURBS:
        if name.upper() == sub.upper():
            return SUBURB_LGA[name]
    return "MISSING"


def neighbourhood_lga(suburb):
    return "OTHER" if suburb is None else SUBURB_LGA.get(suburb, "OTHER")


class Expected:
    """Per-group accumulators mirroring the four KPI views' checked columns."""

    def __init__(self):
        self.groups = defaultdict(lambda: {
            "n": 0, "hosts": set(), "super": set(), "active": 0,
            "inactive": 0, "rev": 0, "min": None, "max": None})

    def add(self, view, key, host_id, superhost, price, has_avail, avail30):
        g = self.groups[(view, key)]
        g["n"] += 1
        g["hosts"].add(host_id)
        if superhost == "t":
            g["super"].add(host_id)
        if has_avail == "t":
            g["active"] += 1
            g["rev"] += (30 - avail30) * price
        else:
            g["inactive"] += 1
        g["min"] = price if g["min"] is None else min(g["min"], price)
        g["max"] = price if g["max"] is None else max(g["max"], price)

    def lines(self):
        cols = {
            "kpi_neighbourhood_month": ["n_listings", "n_hosts", "n_superhosts", "n_active",
                                        "n_inactive", "est_revenue_active", "min_price", "max_price"],
            "kpi_neighbourhood_month_raw": ["n_listings", "n_hosts", "n_superhosts",
                                            "n_active", "n_inactive", "est_revenue_active"],
            "kpi_property_type_month": ["n_listings", "n_hosts", "n_active", "n_inactive",
                                        "est_revenue_active"],
            "kpi_host_month": ["n_hosts", "n_listings", "n_active", "est_revenue_active"],
        }
        out = []
        for (view, key), g in sorted(self.groups.items(), key=lambda kv: (kv[0][0], str(kv[0][1]))):
            # a filtered arm with no rows in the group is the full outer
            # join's unmatched side: all its columns are NULL, counts too
            vals = {
                "n_listings": str(g["n"]), "n_hosts": str(len(g["hosts"])),
                "n_superhosts": str(len(g["super"])) if g["super"] else "null",
                "n_active": str(g["active"]) if g["active"] else "null",
                "n_inactive": str(g["inactive"]) if g["inactive"] else "null",
                "est_revenue_active": repr(float(g["rev"])) if g["active"] else "null",
                "min_price": repr(float(g["min"])), "max_price": repr(float(g["max"])),
            }
            k = "|".join(str(x) for x in key)
            out.extend("%s\t%s\t%s\t%s" % (view, k, c, vals[c]) for c in cols[view])
        return out


def write_side_files(out):
    """Census G01/G02 and the LGA / SSC geography files."""
    def write(name, header, rows):
        with open(os.path.join(out, name), "w", newline="", encoding="utf-8") as f:
            w = csv.writer(f, quoting=csv.QUOTE_ALL, lineterminator="\n")
            w.writerow(header)
            w.writerows(rows)
    g01 = []
    g02 = []
    for i, (code, _, _) in enumerate(LGAS):
        r = [""] * 70
        r[0], r[3], r[54], r[69] = "LGA%d" % code, str(90000 + 7919 * i), str(1200 + 31 * i), str(70000 + 5003 * i)
        g01.append(r)
        g02.append(["LGA%d" % code, str(33 + i), str(2100 + 57 * i), "", "", "", "", "", "%.1f" % (2.0 + 0.1 * i)])
    write("2021Census_G01_NSW_LGA.csv", ["x%d" % i for i in range(1, 71)], g01)
    write("2021Census_G02_NSW_LGA.csv", ["y%d" % i for i in range(1, 10)], g02)
    write("LGA_2020_NSW.csv", ["k", "code", "label"],
          [["LGA%d" % code, str(code), "%s (A)" % name] for code, name, _ in LGAS])
    write("SSC_2016_AUST.csv", ["k", "u1", "suburb", "u2", "u3", "area"],
          [["LGA%d" % code, "", "%s (NSW)" % s, "", "", str(3 + 2 * j)]
           for code, _, subs in LGAS for j, s in enumerate(subs)])


def generate(out, seed, months, rows, extra_every=0):
    """Write the corpus under ``out``; return the counts record.

    ``months`` monthly files of about ``rows`` raw rows each. With
    ``extra_every`` = k > 0, every k-th month from the fourth on also gets
    a second file for the month two before it
    (``listings_extra_MM_YYYY.csv``): the refresh path's reprocess case.
    Extra files are listed under ``extra_files``; they land later than
    the month they belong to.
    """
    rng = random.Random(seed)
    os.makedirs(out, exist_ok=True)
    write_side_files(out)
    n_hosts = max(1, rows // 3)
    hosts = [Host(rng, 5000000 + h) for h in range(n_hosts)]
    stride = max(1, rows // 20)
    pool_size = rows + stride * (months + 1)
    pool = [Listing(rng, 30000000 + k, hosts[min(n_hosts - 1, int(rng.random() ** 1.6 * n_hosts))].id)
            for k in range(pool_size)]
    host_by_id = {h.id: h for h in hosts}
    expected = Expected()
    counts = {"seed": seed, "months": months, "rows_per_file": rows, "files": [],
              "extra_files": [], "raw_rows": 0, "raw_bytes": 0, "dups": 0,
              "null_price": 0, "null_host": 0, "out_of_month": 0, "fact_rows": 0}

    def write_file(name, i, listings, file_rng):
        year, month = month_of(i)
        cols, cased = variant(i)
        header = [c.capitalize() for c in cols] if cased else cols
        path = os.path.join(out, name)
        tally = defaultdict(int)
        with open(path, "w", newline="", encoding="utf-8") as f:
            w = csv.writer(f, quoting=csv.QUOTE_ALL, lineterminator="\n")
            w.writerow(header)
            for lst in listings:
                host = host_by_id[lst.host_id]
                r = file_rng.random()
                kind = ("null_price" if r < 0.006 else "null_host" if r < 0.010
                        else "out_of_month" if r < 0.016 else "dup" if r < 0.028 else "clean")
                day = file_rng.randint(2, 28)
                price = max(20, lst.base_price + file_rng.randint(-15, 15))
                active = file_rng.random() < 0.7
                avail30 = file_rng.randint(0, 29) if active else 0
                v = {c: "" for c in cols}
                v.update({
                    "id": str(lst.id),
                    "listing_url": "https://www.airbnb.com/rooms/%d" % lst.id,
                    "scrape_id": "%d%02d%02d000000" % (year, month, day),
                    "last_scraped": "%d-%02d-%02d" % (year, month, day),
                    "name": lst.name,
                    "description": free_text(file_rng, 3, 9),
                    "neighborhood_overview": free_text(file_rng, 1, 5),
                    "picture_url": "https://a0.muscache.com/pictures/%d.jpg" % lst.id,
                    "host_id": str(host.id),
                    "host_url": "https://www.airbnb.com/users/show/%d" % host.id,
                    "host_name": host.name,
                    "host_since": host.since,
                    "host_location": host.location if host.location is not None else file_rng.choice(NULL_SPELLINGS),
                    "host_about": host.about,
                    "host_response_time": "within an hour",
                    "host_response_rate": "%d%%" % file_rng.randint(50, 100),
                    "host_acceptance_rate": "%d%%" % file_rng.randint(50, 100),
                    "host_is_superhost": host.superhost,
                    "host_listings_count": str(file_rng.randint(1, 9)),
                    "host_total_listings_count": str(file_rng.randint(1, 9)),
                    "host_verifications": "['email', 'phone', 'reviews']",
                    "host_has_profile_pic": "t",
                    "host_identity_verified": file_rng.choice("tf"),
                    "neighbourhood": lst.suburb if lst.suburb is not None else file_rng.choice(NULL_SPELLINGS),
                    "neighbourhood_cleansed": lst.cleansed,
                    "latitude": repr(lst.lat),
                    "longitude": repr(lst.lon),
                    "property_type": lst.ptype,
                    "room_type": lst.rtype,
                    "accommodates": str(lst.accommodates),
                    "bathrooms": "%.1f" % (1 + file_rng.randint(0, 4) / 2),
                    "bathrooms_text": "1 bath",
                    "bedrooms": "%d.0" % file_rng.randint(1, 4),
                    "beds": "%d.0" % file_rng.randint(1, 5),
                    "amenities": amenities(file_rng),
                    "price": money(price),
                    "minimum_nights": str(file_rng.randint(1, 7)),
                    "maximum_nights": "1125",
                    "has_availability": "t" if active else "f",
                    "availability_30": str(avail30),
                    "availability_60": str(avail30 * 2),
                    "availability_90": str(avail30 * 3),
                    "availability_365": str(file_rng.randint(0, 365)),
                    "calendar_last_scraped": "%d-%02d-%02d" % (year, month, day),
                    "number_of_reviews": str(file_rng.randint(0, 300)),
                    "review_scores_rating": "%.1f" % (80 + file_rng.random() * 20),
                    "instant_bookable": file_rng.choice("tf"),
                    "reviews_per_month": "%.2f" % (file_rng.random() * 5),
                    "summary": free_text(file_rng, 1, 4),
                    "space": free_text(file_rng, 1, 4),
                    "house_rules": free_text(file_rng, 1, 3),
                    "city": "Sydney",
                    "weekly_price": money(price * 6),
                })
                if kind == "null_price":
                    v["price"] = file_rng.choice(NULL_SPELLINGS)
                elif kind == "null_host":
                    v["host_id"] = file_rng.choice(NULL_SPELLINGS)
                elif kind == "out_of_month":
                    ny, nm = month_of(i + 1)
                    v["last_scraped"] = "%d-%02d-%02d" % (ny, nm, file_rng.randint(1, 3))
                w.writerow([v[c] for c in cols])
                tally["raw"] += 1
                if kind == "dup":
                    # an older scrape of the same listing in the same file:
                    # staging's (id, filename) dedup keeps the later one
                    d = dict(v)
                    d["last_scraped"] = "%d-%02d-%02d" % (year, month, day - 1)
                    d["name"] = "Dup " + lst.name
                    w.writerow([d[c] for c in cols])
                    tally["raw"] += 1
                    tally["dups"] += 1
                if kind in ("null_price", "null_host", "out_of_month"):
                    tally[kind] += 1
                    continue
                tally["fact"] += 1
                nlga = neighbourhood_lga(lst.suburb)
                hlga = host_suburb_lga(host.location)
                args = (host.id, host.superhost, price, "t" if active else "f", avail30)
                expected.add("kpi_neighbourhood_month", (nlga, year, month), *args)
                expected.add("kpi_neighbourhood_month_raw", (lst.cleansed, year, month), *args)
                expected.add("kpi_property_type_month",
                             (lst.ptype, lst.rtype, lst.accommodates, year, month), *args)
                expected.add("kpi_host_month", (hlga, year, month), *args)
        size = os.path.getsize(path)
        counts["raw_rows"] += tally["raw"]
        counts["raw_bytes"] += size
        counts["dups"] += tally["dups"]
        counts["null_price"] += tally["null_price"]
        counts["null_host"] += tally["null_host"]
        counts["out_of_month"] += tally["out_of_month"]
        counts["fact_rows"] += tally["fact"]
        return {"name": name, "year": year, "month": month, "raw_rows": tally["raw"],
                "bytes": size, "fact_rows": tally["fact"]}

    for i in range(months):
        year, month = month_of(i)
        n = rows + (rows * i) // 50
        start = i * stride
        file_rng = random.Random(rng.random())
        counts["files"].append(write_file(
            "listings_%02d_%d.csv" % (month, year), i, pool[start:start + n], file_rng))
        if extra_every and i >= 3 and i % extra_every == 0:
            j = i - 2
            ey, em = month_of(j)
            # listings not in month j's own file, so (id, filename) stays unique
            extra = pool[j * stride + rows + (rows * j) // 50:][:max(1, rows // 10)]
            rec = write_file("listings_extra_%02d_%d.csv" % (em, ey), j, extra,
                             random.Random(rng.random()))
            rec["lands_after"] = "listings_%02d_%d.csv" % (month, year)
            counts["extra_files"].append(rec)

    with open(os.path.join(out, "expected.tsv"), "w", encoding="utf-8") as f:
        f.write("\n".join(expected.lines()) + "\n")
    with open(os.path.join(out, "counts.json"), "w", encoding="utf-8") as f:
        json.dump(counts, f, indent=1, sort_keys=True)
    return counts
