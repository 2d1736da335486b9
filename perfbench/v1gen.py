"""Seeded generator for the V1 (source database) tables of the migration DAG.

Covers every source and lookup table that ``build_reference_dag`` reads,
with the column names and types of ``tests/v1fixtures.py`` (read from
the fixture functions themselves, so a schema change there shows up here
as an error instead of silent drift). Like ``tools/gen_sf.py`` every
value is derived from a hash of (seed, table, column, key) and keys are
fresh integers, so the same seed always gives byte-identical tables and
two seeds give different ones.

Foreign keys are drawn from the parent table's keys, so the DAG runs
with zero gate trips. The dirt the pipelines clean is injected at the
rates of BASELINE.md: ``'NULL'`` literals, padded strings, VARCHAR dates
in the reference's two formats, ``ImagePath '-1'``, missing stock, null
purchase orders, null store locations.

Tables are written with pyarrow (no Spark) as ``<out>/<Table>/part-00000-v1gen.parquet``
directories, the layout ``Catalog.write`` produces, so sink appends to
a pre-seeded table (``SyncCategories``) land beside its rows.

    python perfbench/v1gen.py --seed 1 --scale 0.001 --out /tmp/v1
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: rows per table at scale 1.0, the BASELINE.md envelope: ~1.52M orders
#: and ~23.2K purchase bills; other tables in proportion, sized so the
#: BASELINE dirt counts fall at their published rates.
SIZES = {
    "Orders": 1_520_000,
    "OrderDetail": 2_280_000,
    "OrderPackageDetail": 456_000,
    "Customers": 240_000,
    "CustomerLocationJunc": 264_000,
    "Cars": 60_000,
    "CarsLocationJunc": 72_000,
    "Items": 60_000,
    "Stock": 120_000,
    "Bill": 23_200,
    "BillDetail": 92_800,
    "PurchaseOrder": 4_400,
    "StockIssue": 9_000,
    "StockIssueDetail": 36_000,
    "Locations": 12_000,
    "Receipt": 12_000,
    "Bay": 24_000,
    "Category": 36_000,
    "SubCategory": 48_000,
    "Packages": 12_000,
    "PackageDetails": 36_000,
    "Users": 4_000,
    "SubUsers": 16_000,
    "UserPackageDetails": 4_000,
    "Model": 2_500,
    "Stores": 600,
    "Supplier": 900,
    "Reconciliation": 600,
    "City": 600,
    "Landmark": 300,
    "Country": 250,
    "RoleGroups": 100,
    "Make": 90,
    "Amenities": 40,
    "Service": 60,
    "Units": 30,
    "AppSource": 6,
    "PaymentModesOld": 8,
}
#: small dimensions keep at least this many rows at any scale
MIN_ROWS = 12

#: per-row probabilities of injected dirt: BASELINE.md counts over SIZES,
#: and fixed shares for the dirt BASELINE.md gives no count for
RATES = {
    "checkout_repair": 0.212,                    # checkout missing its grand total or subtotal
    "stock_missing": 31_093 / 120_000,           # Stock.CurrentStock missing
    "bill_no_po": 0.81,                          # Bill.PurchaseOrderID null
    "car_missing_dates": 4_385 / 60_000,         # Cars dates missing/'NULL'
    "loc_landmark_bad": (1_899 + 12) / 12_000,   # Locations.LandmarkID null/invalid
    "loc_city_missing": 10 / 12_000,             # SA locations without CityID
    "item_missing_money": 51 / 60_000,           # Items.Cost / Price missing
    "item_type_zero": 1_221 / 60_000,            # Items.ItemType '0'
    "model_image_neg1": 631 / 2_500,             # Model.ImagePath '-1'
    "make_image_neg1": 9 / 90,                   # Make.ImagePath '-1'
    "store_no_location": 0.41,                   # Stores.StoreLocationID null
    "null_literal": 0.03,                        # 'NULL' string literals
    "padded": 0.2,                               # leading/trailing whitespace
}

STORES_DDL = (
    "StoreID long, Name string, Type string, StoreLocationID long,"
    " LastUpdatedDate timestamp"
)

_ARROW = {
    "long": pa.int64(), "bigint": pa.int64(), "int": pa.int32(),
    "double": pa.float64(), "string": pa.string(), "boolean": pa.bool_(),
    "timestamp": pa.timestamp("us", tz="UTC"),
}

_EPOCH_2019 = 1_546_300_800  # 2019-01-01 UTC, seconds
_SPAN_S = 6 * 365 * 86_400
_MONTHS = ["Jan", "Feb", "Mar", "Apr", "May", "Jun",
           "Jul", "Aug", "Sep", "Oct", "Nov", "Dec"]


class _SchemaRecorder:
    """Stands in for a Catalog: the fixture functions hand it
    ``createDataFrame(rows, schema)`` and ``write(df, name)``; it keeps
    each table's schema and drops the rows."""

    def __init__(self):
        self.spark = self
        self.tables: dict[str, list[tuple[str, str]]] = {}

    def createDataFrame(self, rows, schema):
        return schema

    def write(self, schema, name, mode="overwrite"):
        self.tables[name] = _parse_schema(schema)


def _parse_schema(schema) -> list[tuple[str, str]]:
    if isinstance(schema, str):
        return [tuple(part.split()) for part in schema.split(",")]
    return [(f.name, f.dataType.simpleString()) for f in schema.fields]


def fixture_schemas() -> dict[str, list[tuple[str, str]]]:
    """Table -> [(column, type)] as the V1 fixtures declare them, plus
    ``Stores`` (which the DAG acceptance tool adds the same way)."""
    from tests import v1fixtures as fx

    rec = _SchemaRecorder()
    for build in (fx.build_v1_fixtures, fx.build_v1_fixtures_extra,
                  fx.build_v1_fixtures_registry, fx.build_v1_fixtures_inventory,
                  fx.build_v1_fixtures_dag_close):
        build(rec)
    rec.tables["Stores"] = _parse_schema(STORES_DDL)
    return rec.tables


def _salt(*parts) -> np.uint64:
    digest = hashlib.blake2b("/".join(map(str, parts)).encode(), digest_size=8)
    return np.uint64(int.from_bytes(digest.digest(), "little"))


def _mix(x: np.ndarray) -> np.ndarray:
    """splitmix64 finalizer over a uint64 array (wrapping arithmetic)."""
    with np.errstate(over="ignore"):
        x = x ^ (x >> np.uint64(30))
        x = x * np.uint64(0xBF58476D1CE4E5B9)
        x = x ^ (x >> np.uint64(27))
        x = x * np.uint64(0x94D049BB133111EB)
        return x ^ (x >> np.uint64(31))


class _Table:
    """Hash-derived columns for one table: every draw is a pure function
    of (seed, table, column tag, row key)."""

    def __init__(self, seed: int, name: str, n: int):
        self.seed, self.name, self.n = seed, name, n
        self.key = np.arange(1, n + 1, dtype=np.int64)
        self.cols: dict[str, np.ndarray | tuple] = {}

    def h(self, tag: str) -> np.ndarray:
        with np.errstate(over="ignore"):
            return _mix(self.key.astype(np.uint64) * np.uint64(0x9E3779B97F4A7C15)
                        + _salt(self.seed, self.name, tag))

    def u(self, tag: str) -> np.ndarray:
        return (self.h(tag) >> np.uint64(11)).astype(np.float64) / float(1 << 53)

    def chance(self, tag: str, p: float) -> np.ndarray:
        return self.u(tag) < p

    def idx(self, tag: str, m: int) -> np.ndarray:
        return (self.h(tag) % np.uint64(max(m, 1))).astype(np.int64)

    def fk(self, tag: str, parent_keys: np.ndarray) -> np.ndarray:
        return parent_keys[self.idx(tag, len(parent_keys))]

    def pick(self, tag: str, pool) -> np.ndarray:
        return np.asarray(pool, dtype=object)[self.idx(tag, len(pool))]

    def money(self, tag: str, lo: float, hi: float) -> np.ndarray:
        return np.round(lo + self.u(tag) * (hi - lo), 2)

    def ts(self, tag: str) -> np.ndarray:
        """Microseconds since the epoch, 2019..2025."""
        return (_EPOCH_2019 + self.idx(tag, _SPAN_S)) * 1_000_000

    def text(self, prefix: str) -> np.ndarray:
        return np.char.add(prefix, self.key.astype(str)).astype(object)

    def dirty(self, tag: str, values: np.ndarray, null_p: float = 0.05,
              literal_p: float = 0.0, pad_p: float = RATES["padded"]) -> np.ndarray:
        """Pad some strings with whitespace, null some, and replace some
        by the literal 'NULL' (the V1 data's three kinds of dirt)."""
        out = values.astype(object).copy()
        pad = self.chance(tag + ":pad", pad_p)
        out[pad] = np.char.add(np.char.add("  ", out[pad].astype(str)), " ").astype(object)
        if literal_p:
            out[self.chance(tag + ":lit", literal_p)] = "NULL"
        out[self.chance(tag + ":null", null_p)] = None
        return out


def _ts_strings(us: np.ndarray) -> np.ndarray:
    """'yyyy-MM-dd HH:mm:ss' VARCHAR timestamps."""
    s = np.datetime_as_string(us.astype("datetime64[us]"), unit="s")
    return np.char.replace(s, "T", " ").astype(object)


def _reference_dates(t: _Table, tag: str, missing_p: float) -> np.ndarray:
    """The reference's two VARCHAR date formats (``May 29 2020  8:39AM``
    and ``3/3/2025 1:28:20 PM``) plus missing values: None, 'NULL' and
    an unparseable string."""
    dt = t.ts(tag).astype("datetime64[us]").astype(object)
    fmt_b = t.chance(tag + ":fmt", 0.5)
    out = []
    for d, b in zip(dt, fmt_b):
        hour12 = d.hour % 12 or 12
        ampm = "AM" if d.hour < 12 else "PM"
        if b:
            out.append(f"{d.month}/{d.day}/{d.year} {hour12}:{d.minute:02d}:{d.second:02d} {ampm}")
        else:
            out.append(f"{_MONTHS[d.month - 1]} {d.day} {d.year} {hour12}:{d.minute:02d}{ampm}")
    out = np.asarray(out, dtype=object)
    miss = t.chance(tag + ":miss", missing_p)
    kind = t.idx(tag + ":kind", 3)
    out[miss & (kind == 0)] = None
    out[miss & (kind == 1)] = "NULL"
    out[miss & (kind == 2)] = "garbage date"
    return out


def _nullable(t: _Table, tag: str, values: np.ndarray, p: float) -> tuple:
    """Numeric column with a share ``p`` of nulls, as a masked triple."""
    return ("masked", values, t.chance(tag + ":null", p))


CITY_NAMES = ["Riyadh", "Jeddah", "Dammam", "Dubai", "Abu Dhabi", "Sharja",
              "Doha", "Kuwait", "Muscat", "Masqat", "Salala", "Manama",
              "Cairo", "Amman", "Hail", "Ta if", "Sanaa", "Khobar"]
CITY_FIXES = {"Sharja": "Sharjah", "Sanaa": "Sana'a", "Ha il": "Ha'il", "Hail": "Ha'il",
              "Ta if": "Ta'if", "Kuwait": "Kuwait City", "Salala": "Salalah",
              "Masqat": "Muscat"}
COUNTRY_V2 = [(966, "SAU"), (971, "ARE"), (20, "EGY"), (965, "KWT"), (974, "QAT"),
              (973, "BHR"), (968, "OMN"), (962, "JOR")]
CATEGORY_NAMES = ["Oil", "Tyres", "Brakes", "Batteries", "Filters", "Wash",
                  "Detailing", "Inspection", "Alignment", "AC Service"]
ITEM_NAMES = ["Oil 5W30", "Oil 10W40", "Oil Filter", "Air Filter", "Brake Pad",
              "Tyre 17in", "Battery 70Ah", "Wiper", "Coolant", "Spark Plug"]
ITEM_TYPES = ["Oil", "oil filter", "OIL FILTER", "tyre", "Tyre ", "Battery", "misc"]
FORMS = ["Users", "Cancel Order", "Accounts", "AppSources", "Orders", "Items"]
PAYMENT_NAMES = ["Cash", "StcPay", "Cheque", "Credit", "Card", "BankTransfer",
                 "Mada", "Voucher"]
PAYMENT_V2_NAMES = {"Cash": "Cash", "StcPay": "STC Pay", "Credit": "Credit Card",
                    "Card": "Debit Card", "BankTransfer": "Bank Transfer",
                    "Mada": "Mada"}
DAYS = ["Sat", "Sun", "Mon", "Tue", "Wed", "Thu", "Fri"]


def _phones(t: _Table, tag: str) -> np.ndarray:
    digits = (t.h(tag) % np.uint64(10**8)).astype(np.int64)
    base = np.char.add("05", np.char.zfill(digits.astype(str), 8))
    kind = t.idx(tag + ":kind", 5)
    out = base.astype(object)
    out[kind == 1] = np.char.add("966", np.char.zfill(digits.astype(str), 9)[kind == 1])
    out[kind == 2] = np.char.add("+971 ", digits.astype(str)[kind == 2])
    out[kind == 3] = "no-phone"
    out[kind == 4] = None
    return out


def generate(seed: int, scale: float, sizes: dict[str, int] | None = None
             ) -> tuple[dict[str, dict], dict[str, int]]:
    """Build every table as {column: values}; return them with the row
    count each 1:1 sink must have after a clean DAG run. ``sizes``
    overrides the scaled row count of single tables."""
    T: dict[str, _Table] = {}
    sizes = sizes or {}

    def n_of(name: str) -> int:
        return sizes.get(name) or max(MIN_ROWS, int(round(SIZES[name] * scale)))

    def table(name: str, n: int) -> _Table:
        T[name] = _Table(seed, name, n)
        return T[name]

    # ---- template dimensions and their V2 lookups -------------------
    make = table("Make", n_of("Make"))
    make.cols = {
        "MakeID": make.key,
        "Name": make.dirty("Name", make.text("Make "), null_p=0.02),
        "ArabicName": make.dirty("ar", make.text("ماركة "), null_p=0.3),
        "ImagePath": np.where(make.chance("img", RATES["make_image_neg1"]), "-1",
                              np.char.add(make.key.astype(str), ".png")).astype(object),
        "CreatedOn": _ts_strings(make.ts("c")),
    }
    model = table("Model", n_of("Model"))
    model.cols = {
        "ModelID": model.key,
        "MakeID": model.fk("make", make.key),
        "Name": model.dirty("Name", model.text("Model "), literal_p=RATES["null_literal"]),
        "Year": np.where(model.chance("yx", 0.05), "x",
                         (2000 + model.idx("y", 26)).astype(str)).astype(object),
        "RecommendedLitres": np.where(model.chance("rl", 0.1), None,
                                      np.round(3 + model.u("l") * 5, 1).astype(str)).astype(object),
        "ImagePath": np.where(model.chance("img", RATES["model_image_neg1"]), "-1",
                              np.char.add(model.key.astype(str), ".png")).astype(object),
    }
    units = table("Units", n_of("Units"))
    unit_names = np.char.add("Unit", units.key.astype(str)).astype(object)
    units.cols = {"UnitID": units.key, "Name": units.dirty("Name", unit_names, null_p=0)}
    units_v2 = table("UnitsV2", units.n)
    units_v2.cols = {"UnitID": 100 + units_v2.key, "Name": unit_names}

    def named_dim(name, id_col, name_col, v2_name, v2_name_col="Name", suffix=""):
        t = table(name, n_of(name))
        clean = np.char.add(f"{name} ", t.key.astype(str)).astype(object)
        raw = np.char.add(clean.astype(str), suffix) if suffix else clean
        t.cols = {id_col: t.key, name_col: t.dirty(name_col, raw, null_p=0)}
        matched = t.chance("v2", 0.8)
        v2 = table(v2_name, int(matched.sum()))
        v2.cols = {id_col: 10_000 + v2.key, v2_name_col: clean[matched]}
        return t

    amen = named_dim("Amenities", "AmenitiesID", "Name", "AmenitiesV2New")
    amen.cols["Description"] = amen.dirty("d", amen.text("desc "), null_p=0.3,
                                          literal_p=RATES["null_literal"])
    svc = named_dim("Service", "ServiceID", "ServiceTitle", "ServicesV2New", suffix=" Service")
    lm = named_dim("Landmark", "LandmarkID", "Name", "LandmarksV2New")
    app = named_dim("AppSource", "AppSourceID", "Name", "AppSourcesV2New")
    sync_app = table("SyncAppSources", app.n)
    sync_app.cols = {"OldAppSourceID": app.key, "AppSourceID": 70 + app.key}

    pm_old = table("PaymentModesOld", max(len(PAYMENT_NAMES), n_of("PaymentModesOld")))
    pm_old.cols = {"PaymentModeID": pm_old.key,
                   "Name": pm_old.dirty("Name", pm_old.pick("n", PAYMENT_NAMES), null_p=0)}
    pm_v2 = table("PaymentModesV2", len(PAYMENT_V2_NAMES))
    pm_v2.cols = {"PaymentModeID": 20 + pm_v2.key,
                  "Name": np.asarray(list(PAYMENT_V2_NAMES.values()), dtype=object)}
    pm = table("PaymentModes", 5)
    pm.cols = {"PaymentModeID": pm.key}

    supp = table("Supplier", n_of("Supplier"))
    supp.cols = {
        "SupplierID": supp.key,
        "Name": supp.dirty("Name", supp.text("Supplier "), null_p=0),
        "Email": supp.dirty("e", np.char.add(supp.key.astype(str), "@supp.example").astype(object)),
        "ContactPerson": supp.dirty("c", supp.text("Person "), literal_p=0.1),
        "Address": supp.dirty("a", supp.text("POB "), null_p=0.2),
        "StatusID": _nullable(supp, "s", 1 + supp.idx("s", 2), 0.3),
    }
    supp_v2 = table("SuppliersV2", supp.n)
    supp_v2.cols = {"OldSupplierID": supp.key, "SupplierID": 9_000 + supp.key}
    rec = table("Reconciliation", n_of("Reconciliation"))
    rec.cols = {
        "ReconciliationID": rec.key,
        "Reason": rec.dirty("r", rec.pick("r", ["shrinkage", "damage", "count fix", "  "]),
                            null_p=0.2),
        "StatusID": _nullable(rec, "s", 1 + rec.idx("s", 2), 0.4),
    }

    # ---- geography ----------------------------------------------------
    country = table("Country", n_of("Country"))
    codes = ["SA", "AE", "EG", "KW", "QA", "BH", "OM", "JO", "GB", "US", "FR",
             "EGY", "SAU", "X", "ZZ"]
    country.cols = {
        "CountryRowID": country.key,
        "Code": country.dirty("code", country.pick("code", codes), null_p=0, pad_p=0.1),
        "Name": country.dirty("Name", country.text("Country "), null_p=0.01),
        "Curr_Code": country.dirty("cc", country.pick("cc", ["SAR", "AED", "EGP", "GBP"]),
                                   null_p=0.1),
    }
    countries_v2 = table("CountriesV2", len(COUNTRY_V2))
    countries_v2.cols = {"CountryID": np.array([c for c, _ in COUNTRY_V2]),
                         "Code": np.array([k for _, k in COUNTRY_V2], dtype=object)}
    city = table("City", n_of("City"))
    city_ids = 4_100 + city.key
    base_names = city.pick("n", CITY_NAMES)
    city_names = np.char.add(np.char.add(base_names.astype(str), " "),
                             city.key.astype(str)).astype(object)
    fixed = city.chance("fix", 0.15)
    city_names[fixed] = base_names[fixed]  # bare names, some with old spellings
    city_code = city.pick("cc", ["SA", "SAU", "SAU", "ARE", "EGY", "KWT", "QAT",
                                 "BHR", "OMN", "JOR", "XXX"])
    city.cols = {
        "ID": city_ids,
        "Name": city.dirty("Name", city_names, null_p=0),
        "District": city.dirty("d", city.text("District "), null_p=0.5),
        "CountryCode": city_code,
    }
    code_to_id = {k: c for c, k in COUNTRY_V2}
    code3 = np.where(city_code == "SA", "SAU", city_code)
    cities_v2 = table("CitiesV2", city.n)
    cities_v2.cols = {"CityID": city_ids,
                      "CountryID": ("masked", np.array([code_to_id.get(c, 0) for c in code3]),
                                    np.array([c not in code_to_id for c in code3]))}
    new_spelling = np.array([CITY_FIXES.get(n, n) for n in city_names], dtype=object)
    has_v2 = city.chance("v2", 0.8)
    cities_new = table("CitiesV2New", int(has_v2.sum()))
    cities_new.cols = {"CityID": 10 + cities_new.key, "CityName": new_spelling[has_v2]}
    sync_cities = table("SyncCities", city.n)
    sync_cities.cols = {"CityID": 10 + sync_cities.key, "OldCityID": city_ids,
                        "CountryID": np.where(code3 == "XXX", "SA", code3).astype(object)}

    # ---- accounts, locations and their satellites ---------------------
    users = table("Users", n_of("Users"))
    users.cols = {
        "UserID": users.key,
        "FirstName": users.dirty("f", users.text("First "), null_p=0.02),
        "LastName": users.dirty("l", users.text("Last "), null_p=0.2),
        "ImagePath": users.pick("img", ["-1", "u.png", None, "  "]),
        "Company": users.dirty("c", users.text("Company "), null_p=0.1),
        "BusinessType": users.dirty("b", users.pick("b", ["Garage", "Wash", "Tyres"]),
                                    null_p=0.2),
        "Email": users.dirty("e", np.char.add(users.key.astype(str), "@acct.example").astype(object)),
        "ContactNo": _phones(users, "p"),
        "LastUpdatedDate": _nullable(users, "lu", users.ts("lu"), 0.3),
        "StatusID": _nullable(users, "s", 1 + users.idx("s", 2), 0.1),
        "CompanyCode": users.dirty("cc", users.text("C"), null_p=0.5),
        "CreatedDate": _nullable(users, "cd", users.ts("cd"), 0.2),
        "VATNO": users.pick("vat", ["300123", "x", None, "310000000000003"]),
        "BrandThumbnailImage": users.pick("bt", ["b.png", None, "  "]),
    }
    accounts = table("Accounts", users.n)
    accounts.cols = {"AccountID": users.key}

    loc = table("Locations", n_of("Locations"))
    loc_country = np.where(loc.chance("sa", 0.7), "SA",
                           loc.pick("c", ["AE", "EG", "KW"])).astype(object)
    loc_city = loc.fk("city", city_ids)
    city_missing = (loc_country == "SA") & loc.chance("nocity", RATES["loc_city_missing"])
    landmark = loc.idx("lm", 3) + 1
    bad_lm = loc.chance("lmbad", RATES["loc_landmark_bad"])
    landmark[bad_lm & loc.chance("lmkind", 0.5)] = 9  # invalid id -> domain-restricted
    loc_account = loc.fk("acct", users.key)
    loc.cols = {
        "LocationID": loc.key,
        "UserID": loc.fk("user", users.key),
        "CountryID": loc_country,
        "Name": loc.dirty("Name", loc.text("Location "), null_p=0),
        "ContactNo": _phones(loc, "p"),
        "CityID": ("masked", loc_city, city_missing),
        "LandmarkID": ("masked", landmark, bad_lm & ~(landmark == 9)),
        "Latitude": np.where(loc.chance("latx", 0.02), "1200.0",
                             np.round(20 + loc.u("lat") * 10, 6).astype(str)).astype(object),
        "Longitude": np.where(loc.chance("lonx", 0.05), None,
                              np.round(40 + loc.u("lon") * 15, 6).astype(str)).astype(object),
        "LastUpdatedDate": np.where(loc.chance("lu", 0.3), None, _ts_strings(loc.ts("lu"))),
        "AccountID": loc_account,
    }
    loc_new = 500_000 + loc.key
    lk = table("LocationsV2Lookup", loc.n)
    lk.cols = {"OldLocationID": loc.key, "LocationID": loc_new}
    lk_all = table("LocationsV2All", loc.n)
    lk_all.cols = {"OldLocationID": loc.key, "LocationID": loc_new,
                   "CityID": ("masked", loc_city, city_missing), "AccountID": loc_account}
    amen_junc = table("LocationAmenitiesJunc", 3 * loc.n)
    amen_junc.cols = {"LocationID": amen_junc.fk("loc", loc.key),
                      "AmenitiesID": amen_junc.fk("am", amen.key)}
    hours = table("LocationWorkingHours", 2 * loc.n)
    hours.cols = {"LocationID": hours.fk("loc", loc.key),
                  "Name": hours.pick("d", DAYS),
                  "Time": hours.pick("t", ["9-5", "8-10", "closed", "24h"])}
    receipt = table("Receipt", n_of("Receipt"))
    receipt.cols = {
        "ReceiptID": receipt.key,
        "LocationID": receipt.fk("loc", loc.key),
        "Facebook": receipt.dirty("fb", receipt.text("fb.com/g"), null_p=0.4),
        "Twitter": receipt.dirty("tw", receipt.text("@g"), null_p=0.6),
        "Instagram": receipt.dirty("ig", receipt.text("ig/g"), null_p=0.5),
    }

    # ---- categories, items, packages ----------------------------------
    cat = table("Category", n_of("Category"))
    cat_loc = cat.fk("loc", loc.key)
    cat_names = cat.pick("n", CATEGORY_NAMES)
    cat.cols = {"CategoryID": cat.key, "LocationID": cat_loc,
                "Name": cat.dirty("Name", cat_names, null_p=0),
                "StatusID": 1 + cat.idx("s", 2)}
    cat_account = loc_account[cat_loc - 1]
    sync_cat = table("SyncCategories", cat.n)
    sync_cat.cols = {"AccountID": cat_account, "Name": cat_names, "OldCategoryID": cat.key}
    pairs = sorted(set(zip(cat_account.tolist(), cat_names.tolist())))
    cat_map = table("CategoriesV2Map", len(pairs))
    cat_map.cols = {"CategoryID": 700_000 + cat_map.key,
                    "AccountID": np.array([a for a, _ in pairs], dtype=np.int64),
                    "Name": np.array([n for _, n in pairs], dtype=object)}
    sub = table("SubCategory", n_of("SubCategory"))
    sub.cols = {"SubCatID": sub.key, "CategoryID": sub.fk("cat", cat.key)}

    items = table("Items", n_of("Items"))
    item_type = items.dirty("t", items.pick("t", ITEM_TYPES), null_p=0.05, pad_p=0)
    item_type[items.chance("t0", RATES["item_type_zero"])] = "0"
    no_money = items.chance("nomoney", RATES["item_missing_money"])
    price = np.round(5 + items.u("p") * 500, 2).astype(str).astype(object)
    price[items.chance("px", 0.01)] = "x"
    price[no_money] = None
    items.cols = {
        "ItemID": items.key,
        "SubCatID": items.fk("sub", sub.key),
        "Name": items.dirty("Name", np.char.add(np.char.add(items.pick("n", ITEM_NAMES).astype(str), " #"),
                                                items.idx("nv", 40).astype(str)).astype(object),
                            null_p=0, literal_p=RATES["null_literal"]),
        "ItemType": item_type,
        "Cost": ("masked", items.money("c", 1, 300), no_money),
        "Price": price,
        "StatusID": _nullable(items, "s", 1 + items.idx("s", 2), 0.05),
    }
    items_map = table("ItemsV2Map", items.n)
    items_map.cols = {"OldItemID": items.key, "ItemID": 800_000 + items.key}

    pkg = table("Packages", n_of("Packages"))
    pkg.cols = {
        "PackageID": pkg.key,
        "SubCategoryID": pkg.fk("sub", sub.key),
        "Name": pkg.dirty("Name", pkg.text("Package "), null_p=0.02,
                          literal_p=RATES["null_literal"]),
        "Price": np.round(20 + pkg.u("p") * 300, 1).astype(str).astype(object),
        "StatusID": _nullable(pkg, "s", 1 + pkg.idx("s", 2), 0.2),
        "UpdatedAt": _nullable(pkg, "u", pkg.ts("u"), 0.4),
    }
    pkg_det = table("PackageDetails", n_of("PackageDetails"))
    pkg_det.cols = {"PackageDetailID": pkg_det.key, "PackageID": pkg_det.fk("pkg", pkg.key),
                    "ItemID": pkg_det.fk("item", items.key),
                    "Quantity": (1 + pkg_det.idx("q", 4)).astype(np.float64)}
    pkg_sync = table("PackagesSync", pkg.n)
    pkg_sync.cols = {"OldPackageID": pkg.key, "NewPackageID": 70_000 + pkg.key}

    # ---- customers, sub-users, settings ------------------------------
    cust = table("Customers", n_of("Customers"))
    cust.cols = {
        "CustomerID": cust.key,
        "FullName": cust.dirty("f", cust.text("Customer "), null_p=0.02),
        "ImagePath": cust.pick("img", ["-", None, "c.png", "  "]),
        "Password": cust.dirty("pw", cust.text("hash"), null_p=0.01, pad_p=0),
        "Email": cust.dirty("e", np.char.add(cust.key.astype(str), "@cust.example").astype(object),
                            null_p=0.3),
        "Mobile": _phones(cust, "m"),
        "LocationID": _nullable(cust, "loc", cust.fk("loc", loc.key), 0.2),
        "StatusID": _nullable(cust, "s", 1 + cust.idx("s", 2), 0.3),
        "CreatedOn": _nullable(cust, "c", cust.ts("c"), 0.2),
        "LastUpdatedDate": _nullable(cust, "lu", cust.ts("lu"), 0.4),
    }
    cust_loc = table("CustomerLocationJunc", n_of("CustomerLocationJunc"))
    cust_loc.cols = {"CustomerLocationID": cust_loc.key,
                     "CustomerID": cust_loc.fk("c", cust.key),
                     "LocationId": _nullable(cust_loc, "loc", cust_loc.fk("loc", loc.key), 0.1),
                     "CreatedOn": _nullable(cust_loc, "c", cust_loc.ts("c"), 0.3)}
    subu = table("SubUsers", n_of("SubUsers"))
    subu.cols = {
        "SubUserID": subu.key,
        "UserID": subu.fk("u", users.key),
        "Email": subu.dirty("e", np.char.add(subu.key.astype(str), "@sub.example").astype(object)),
        "UserName": subu.text("user"),
        "ContactNo": _phones(subu, "p"),
        "CityID": np.where(subu.chance("cx", 0.1), "x9",
                           subu.fk("city", city_ids).astype(str)).astype(object),
        "LastUpdatedDate": _nullable(subu, "lu", subu.ts("lu"), 0.5),
    }
    upd = table("UserPackageDetails", n_of("UserPackageDetails"))
    upd.cols = {"UserPackageDetailID": upd.key, "UserID": upd.fk("u", users.key),
                "PackageInfoID": _nullable(upd, "p", 1 + upd.idx("p", 2), 0.2),
                "CreatedDate": upd.ts("c"),
                "ExpiryDate": _nullable(upd, "e", upd.ts("e"), 0.6)}
    n_groups = n_of("RoleGroups")
    rgf = table("RoleGroupForms", n_groups * len(FORMS))
    rgf.cols = {"GroupID": 1 + (rgf.key - 1) // len(FORMS),
                "FormName": np.asarray(FORMS * n_groups, dtype=object)}
    for verb in ("New", "Remove", "Edit", "Access"):
        rgf.cols[verb] = rgf.chance(verb, 0.5)

    # ---- cars and bays -------------------------------------------------
    cars = table("Cars", n_of("Cars"))
    cars.cols = {"CarID": cars.key,
                 "CreatedOn": _reference_dates(cars, "c", RATES["car_missing_dates"]),
                 "LastUpdatedDate": _reference_dates(cars, "lu", RATES["car_missing_dates"])}
    car_junc = table("CarsLocationJunc", n_of("CarsLocationJunc"))
    car_junc.cols = {
        "CarLocationID": car_junc.key,
        "CarID": car_junc.fk("car", cars.key),
        "CreatedOn": car_junc.ts("c"),
        "LocationID": car_junc.fk("loc", loc.key),
        "StatusID": _nullable(car_junc, "s", 1 + car_junc.idx("s", 2), 0.3),
        "LastUpdatedDate": _nullable(car_junc, "lu", car_junc.ts("lu"), 0.4),
    }
    cars_map = table("CarsV2Map", cars.n)
    cars_map.cols = {"OldCarID": cars.key, "CarID": 900_000 + cars.key}
    bay = table("Bay", n_of("Bay"))
    bay.cols = {"BayID": bay.key, "BayName": bay.text("Bay "),
                "LocationID": bay.fk("loc", loc.key)}

    # ---- orders chain --------------------------------------------------
    orders = table("Orders", n_of("Orders"))
    orders.cols = {
        "OrderID": orders.key,
        "LocationID": orders.fk("loc", loc.key),
        "OrderType": np.full(orders.n, "New", dtype=object),
        "CreatedOn": np.where(orders.chance("c0", 0.02), None, _ts_strings(orders.ts("c"))),
    }
    # checkout: one row per order, a second one for 10% of orders,
    # sorted by order as the V1 identity column would leave them
    second = orders.key[orders.chance("two", 0.1)]
    co_order = np.sort(np.concatenate([orders.key, second]))
    co = table("OrderCheckout", len(co_order))
    subtotal = co.money("st", 10, 2_000)
    tax = np.round(subtotal * 0.15, 2)
    disc = np.where(co.chance("d", 0.2), np.round(subtotal * 0.1, 2), 0.0)
    grand = np.round(subtotal - disc + tax, 2)
    repair = co.chance("repair", RATES["checkout_repair"])
    which = co.idx("which", 2)
    grand = np.where(repair & (which == 0), 0.0, grand)
    subtotal = np.where(repair & (which == 1), 0.0, subtotal)
    co.cols = {
        "OrderCheckOutID": co.key,
        "OrderID": co_order,
        "AmountTotal": subtotal,
        "Tax": tax,
        "GrandTotal": grand,
        "AmountPaid": np.where(co.chance("paid", 0.7), grand, 0.0),
        "AmountDiscount": disc,
        "PaymentMode": _nullable(co, "pm", 1 + co.idx("pm", 3), 0.05),
        "AppSourceID": co.fk("app", app.key),
        "Remarks": co.dirty("r", co.pick("r", ["ok", "part pay", "vip"]), null_p=0.6),
        "OrderStatus": _nullable(co, "os", 1 + co.idx("os", 3), 0.1),
        "CreatedOn": _nullable(co, "c", co.ts("c"), 0.2),
    }
    orders_map = table("OrdersV2Map", orders.n)
    orders_map.cols = {"OldOrderID": orders.key, "OrderID": 9_000_000 + orders.key}
    od = table("OrderDetail", n_of("OrderDetail"))
    qty = (od.idx("q", 5)).astype(np.float64)  # 0 -> null unit price
    od.cols = {
        "OrderDetailID": od.key,
        "OrderID": np.sort(od.fk("ord", orders.key)),
        "ItemID": _nullable(od, "item", od.fk("item", items.key), 0.03),
        "Quantity": qty,
        "Price": od.money("p", 5, 800),
        "DiscountAmount": np.where(od.chance("d", 0.15), od.money("dd", 0, 5), 0.0),
    }
    od_map = table("OrderLineItemsV2Map", od.n)
    od_map.cols = {"OldOrderDetailID": od.key, "OrderDetailID": 20_000_000 + od.key}
    opd = table("OrderPackageDetail", n_of("OrderPackageDetail"))
    opd.cols = {"OrderPkgDetailID": opd.key,
                "OrderDetailID": np.sort(opd.fk("od", od.key)),
                "ItemID": opd.fk("item", items.key),
                "Name": opd.dirty("Name", opd.pick("n", ITEM_NAMES), null_p=0.1,
                                  literal_p=RATES["null_literal"])}

    # ---- inventory chain -----------------------------------------------
    stores = table("Stores", n_of("Stores"))
    stores.cols = {
        "StoreID": stores.key,
        "Name": stores.dirty("Name", stores.text("Store "), null_p=0),
        "Type": np.where(stores.chance("main", 0.1), "Main Store", "Branch").astype(object),
        "StoreLocationID": _nullable(stores, "sl", stores.fk("loc", loc.key),
                                     RATES["store_no_location"]),
        "LastUpdatedDate": _nullable(stores, "lu", stores.ts("lu"), 0.3),
    }
    wh = table("Warehouses", stores.n)
    wh.cols = {"OldStoreID": stores.key, "WarehouseID": 500 + stores.key}
    po = table("PurchaseOrder", n_of("PurchaseOrder"))
    po.cols = {"PurchaseOrderID": po.key, "SupplierID": po.fk("s", supp.key),
               "Remarks": po.dirty("r", po.text("po "), null_p=0.5),
               "CreatedOn": _nullable(po, "c", po.ts("c"), 0.3)}
    po_v2 = table("PurchaseOrdersV2", po.n)
    po_v2.cols = {"OldPurchaseOrderID": po.key, "PurchaseOrderID": 8_000 + po.key}
    bill = table("Bill", n_of("Bill"))
    bill.cols = {"BillID": bill.key, "SupplierID": bill.fk("s", supp.key),
                 "StoreID": bill.fk("st", stores.key),
                 "PurchaseOrderID": _nullable(bill, "po", bill.fk("po", po.key),
                                              RATES["bill_no_po"])}
    bill_map = table("PurchaseBillsV2Map", bill.n)
    bill_map.cols = {"OldBillID": bill.key, "PurchaseBillID": 7_000_000 + bill.key,
                     "TaxAmount": np.where(bill_map.chance("t", 0.8), 0.15, 0.0)}
    bd = table("BillDetail", n_of("BillDetail"))
    bd.cols = {
        "BillDetailID": bd.key, "BillID": bd.fk("b", bill.key),
        "ItemID": bd.fk("i", items.key), "Cost": bd.money("c", 1, 100),
        "Price": bd.money("p", 1, 150),
        "CreatedOn": _nullable(bd, "c", bd.ts("c"), 0.3),
        "LastUpdatedDate": _nullable(bd, "lu", bd.ts("lu"), 0.5),
        "StatusID": _nullable(bd, "s", 1 + bd.idx("s", 2), 0.3),
        "CreatedBy": bd.pick("cb", ["u1", "u2", None]),
        "LastUpdatedBy": bd.pick("lb", ["u1", "u3", None]),
        "Remarks": bd.pick("r", ["note", None, "  "]),
    }
    si = table("StockIssue", n_of("StockIssue"))
    si.cols = {"StockIssueID": si.key, "FromStoreID": si.fk("f", stores.key),
               "ToStoreID": si.fk("t", stores.key)}
    si_map = table("StockTransfersV2Map", si.n)
    si_map.cols = {"OldStockIssueID": si.key, "StockTransferID": 6_000_000 + si.key}
    sid = table("StockIssueDetail", n_of("StockIssueDetail"))
    sid.cols = {
        "StockIssueDetailID": sid.key, "StockIssueID": sid.fk("si", si.key),
        "ItemID": sid.fk("i", items.key),
        "IssueQty": (1 + sid.idx("iq", 20)).astype(np.float64),
        "RequestQty": (1 + sid.idx("rq", 20)).astype(np.float64),
        "ReceiveQty": (sid.idx("rc", 20)).astype(np.float64),
        "CreateOn": _nullable(sid, "c", sid.ts("c"), 0.3),
        "LastUpdatedDate": _nullable(sid, "lu", sid.ts("lu"), 0.5),
        "StatusID": _nullable(sid, "s", 1 + sid.idx("s", 2), 0.3),
        "CreatedBy": sid.pick("cb", ["u1", None]),
        "LastUpdatedBy": sid.pick("lb", ["u2", None]),
        "Notes": sid.dirty("n", sid.pick("n", ["keep", "urgent"]), null_p=0.5),
    }
    stock = table("Stock", n_of("Stock"))
    current = np.round(stock.u("cs") * 100, 1).astype(str).astype(object)
    current[stock.chance("csx", 0.01)] = "x"
    current[stock.chance("missing", RATES["stock_missing"])] = None
    stock.cols = {"StockID": stock.key, "StoreID": stock.fk("st", stores.key),
                  "CurrentStock": current,
                  "StutusID": _nullable(stock, "s", 1 + stock.idx("s", 2), 0.2),
                  "CreatedOn": _nullable(stock, "c", stock.ts("c"), 0.3)}

    expected = {
        "MakesV2": make.n, "ModelsV2": model.n, "UnitsV2Out": units.n,
        "AmenitiesV2": amen.n, "ServicesV2": svc.n, "LandmarksV2": lm.n,
        "AppSourcesV2": app.n, "SuppliersV2Out": supp.n, "ReconciliationsV2": rec.n,
        "WarehousesV2": stores.n, "AccountsV2Out": users.n,
        "LocationsV2": loc.n, "LocationSettingsV2": 3 * receipt.n,
        "SubCategoriesV2": sub.n, "BaysV2": bay.n, "AspNetUsersV2": cust.n,
        "CustomerLocationsV2": cust_loc.n, "SubUsersV2": subu.n,
        "SubscriptionsV2": upd.n, "AccountPaymentModesV2": users.n * pm.n,
        "CarsV2": cars.n, "CarLocationsV2": car_junc.n, "PackagesV2": pkg.n,
        "PackageDetailsV2": pkg_det.n, "OrdersV2": orders.n,
        "OrderLineItemsV2": od.n, "OrderPaymentsV2": co.n,
        "OrderDetailPackagesV2": opd.n, "PurchaseOrdersV2Out": po.n,
        "PurchaseBillsV2": bill.n, "PurchaseBillDetailsV2": bd.n,
        "StockTransfersV2": si.n, "StockTransferDetailsV2": sid.n, "StocksV2": stock.n,
        "RoleClaimsV2": int(sum(rgf.cols[v].sum() for v in ("New", "Remove", "Edit", "Access"))),
        "CitiesV2Out": int(np.isin(code3, list(code_to_id)).sum()),
    }
    return {name: t.cols for name, t in T.items()}, expected


def _arrow_column(values, arrow_type: pa.DataType) -> pa.Array:
    if isinstance(values, tuple) and values and values[0] == "masked":
        _, data, mask = values
        return pa.array(data, type=arrow_type, mask=np.asarray(mask, dtype=bool))
    return pa.array(values, type=arrow_type)


#: rows per parquet row group: small enough that Spark splits the big
#: tables across every core
ROW_GROUP = 131_072


def write_catalog(out_dir: str, seed: int, scale: float,
                  sizes: dict[str, int] | None = None) -> dict[str, int]:
    """Generate every table into ``out_dir``; return the expected sink
    row counts (also written to ``out_dir/_expected.json``)."""
    schemas = fixture_schemas()
    tables, expected = generate(seed, scale, sizes)
    missing = sorted(set(schemas) - set(tables))
    if missing:
        raise RuntimeError(f"generator does not cover fixture tables {missing}")
    os.makedirs(out_dir, exist_ok=True)
    for name, schema in schemas.items():
        cols = tables[name]
        if set(cols) != {c for c, _ in schema}:
            raise RuntimeError(f"{name}: generated columns {sorted(cols)} "
                               f"!= fixture columns {[c for c, _ in schema]}")
        arrow_schema = pa.schema([(c, _ARROW[t]) for c, t in schema])
        arrays = [_arrow_column(cols[c], arrow_schema.field(c).type) for c, _ in schema]
        table_dir = os.path.join(out_dir, name)
        os.makedirs(table_dir, exist_ok=True)
        pq.write_table(pa.Table.from_arrays(arrays, schema=arrow_schema),
                       os.path.join(table_dir, "part-00000-v1gen.parquet"),
                       row_group_size=ROW_GROUP)
    with open(os.path.join(out_dir, "_expected.json"), "w") as f:
        json.dump(expected, f, indent=1, sort_keys=True)
    return expected


def source_rows(out_dir: str) -> int:
    """Total rows over every generated table (the DAG's input size)."""
    total = 0
    for name in os.listdir(out_dir):
        path = os.path.join(out_dir, name)
        if os.path.isdir(path):
            total += sum(pq.ParquetFile(os.path.join(path, f)).metadata.num_rows
                         for f in os.listdir(path) if f.endswith(".parquet"))
    return total


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--scale", type=float, default=0.001)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    expected = write_catalog(args.out, args.seed, args.scale)
    print(json.dumps({"tables": len(os.listdir(args.out)) - 1,
                      "source_rows": source_rows(args.out),
                      "expected_sinks": len(expected)}))


if __name__ == "__main__":
    main()
