"""Medallion client batches for the ``warehouse`` workload.

``write_client_batch`` lands one client batch as six headered CSV files
(CRM + ERP), carrying the dirt classes the silver procs repair (null /
duplicate keys, padded strings, unknown codes, future dates, 0 and
7-digit yyyymmdd ints, null / negative / mismatched sales).  It is pure
numpy; which order keys a batch holds is picked by the caller from the
benchmark seed.  The registry tables the gates read are not generated:
they are the repository's fixed sf0.01 tables in ``data/sf0.01``.
"""

from __future__ import annotations

import os

import numpy as np

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
ADJ = ["blue", "cold", "hot", "new", "old", "red", "small", "big"]
NOUN = ["anvil", "bolt", "gear", "plate", "ring", "rod", "widget", "nut"]


# -- medallion client batches --------------------------------------------

# (source system, logical file, bronze table, [(column, target type)])
CLIENT_FILES = [
    ("crm", "cust_info", "crm_cust_info", [
        ("cst_id", "integer"), ("cst_key", "string"),
        ("cst_firstname", "string"), ("cst_lastname", "string"),
        ("cst_marital_status", "string"), ("cst_gndr", "string"),
        ("cst_create_date", "date"),
    ]),
    ("crm", "prd_info", "crm_prd_info", [
        ("prd_id", "integer"), ("prd_key", "string"), ("prd_nm", "string"),
        ("prd_cost", "double"), ("prd_line", "string"),
        ("prd_start_dt", "date"),
    ]),
    ("crm", "sales_details", "crm_sales_details", [
        ("sls_ord_num", "string"), ("sls_prd_key", "string"),
        ("sls_cust_id", "integer"), ("sls_order_dt", "bigint"),
        ("sls_ship_dt", "bigint"), ("sls_due_dt", "bigint"),
        ("sls_sales", "double"), ("sls_quantity", "integer"),
        ("sls_price", "double"),
    ]),
    ("erp", "CUST_AZ12", "erp_cust_az12", [
        ("cid", "string"), ("bdate", "date"), ("gen", "string"),
    ]),
    ("erp", "LOC_A101", "erp_loc_a101", [("cid", "string"), ("cntry", "string")]),
    ("erp", "PX_CAT_G1V2", "erp_px_cat_g1v2", [
        ("id", "string"), ("cat", "string"), ("subcat", "string"),
        ("maintenance", "string"),
    ]),
]
CATS = ["CO-RF", "AC-BR", "CL-SO", "BI-MT"]
COUNTRIES = ["US", "USA", "DE", "Germany", "Australia", "", "", "CA"]


def _day(base: str, offsets: np.ndarray) -> list[str]:
    return [str(d) for d in np.datetime64(base) + offsets.astype("timedelta64[D]")]


def _ymd(days: np.ndarray) -> np.ndarray:
    d = (np.datetime64("2019-01-01") + days.astype("timedelta64[D]")).astype(str)
    return np.array([int(s.replace("-", "")) for s in d], dtype=np.int64)


def _csv(path: str, header: list[str], cols: list) -> None:
    with open(path, "w") as f:
        f.write(",".join(header) + "\n")
        for row in zip(*cols):
            f.write(",".join("" if v is None else str(v) for v in row) + "\n")


def write_client_batch(
    dirs: dict[str, str], batch: str, orders: np.ndarray, n_cust: int, n_part: int
) -> int:
    """Land one client batch as CSVs under ``dirs[source_system]``.

    ``orders`` are the order keys the batch carries; each order has
    1-7 lines, so sales rows ~ 4 x len(orders).  Customers and products
    are the ones those orders touch.  Returns the sales row count."""
    lines = 1 + orders % 7
    okey = np.repeat(orders, lines)
    lineno = np.arange(len(okey)) - np.repeat(np.cumsum(lines) - lines, lines) + 1
    rowmod = okey * 7 + lineno
    cust = (orders * 2654435761 % n_cust)[np.repeat(np.arange(len(orders)), lines)]
    part = rowmod * 40503 % n_part
    qty = 1 + rowmod % 50
    price = np.round(900.0 + part % 1000 / 10.0, 2)
    sales = np.round(qty * price, 2)
    oday = np.repeat(orders % 2000, lines)
    order_dt = _ymd(oday)
    order_dt[rowmod % 211 == 0] = 0
    order_dt[rowmod % 223 == 0] = 2024011
    ship_dt = _ymd(oday + np.where(rowmod % 4999 == 0, 12, 3))
    _csv(os.path.join(dirs["crm"], f"sales_details_{batch}.csv"),
         [c for c, _ in CLIENT_FILES[2][3]], [
        [f"SO{o}" for o in okey],
        [f"P{p:07d}" for p in part],
        cust, order_dt, ship_dt, _ymd(oday + 7),
        [None if m % 97 == 0 else (-1.0 if m % 89 == 0 else s)
         for m, s in zip(rowmod, sales)],
        qty,
        [None if m % 101 == 0 else p for m, p in zip(rowmod, price)],
    ])

    cids = np.unique(cust)
    dup = cids[cids % 50 == 0]  # a later second version for 2% of ids
    all_c = np.concatenate([cids, dup])
    created = all_c % 1500 + np.concatenate([np.zeros(len(cids), int), np.full(len(dup), 30)])
    _csv(os.path.join(dirs["crm"], f"cust_info_{batch}.csv"),
         [c for c, _ in CLIENT_FILES[0][3]], [
        [None if c % 199 == 0 else c for c in all_c],
        [f" AW{c:08d} " for c in all_c],
        [f" Customer{c}" for c in all_c],
        [SEGMENTS[c % 5] + "  " for c in all_c],
        ["MSX"[c % 3] for c in all_c],
        [("M", "F", "m", "", None)[c % 5] for c in all_c],
        ["2999-06-01" if c % 97 == 0 else d
         for c, d in zip(all_c, _day("2020-01-01", created))],
    ])
    _csv(os.path.join(dirs["erp"], f"CUST_AZ12_{batch}.csv"), ["cid", "bdate", "gen"], [
        [("NAS" if c % 7 == 0 else "") + f"AW{c:08d}" for c in cids],
        ["2999-01-01" if c % 173 == 0 else d
         for c, d in zip(cids, _day("1950-01-01", cids % 18000))],
        [("M", "F", "MALE", "FEMALE", "", None)[c % 6] for c in cids],
    ])
    _csv(os.path.join(dirs["erp"], f"LOC_A101_{batch}.csv"), ["cid", "cntry"], [
        [f"AW-{c:08d}" for c in cids], [COUNTRIES[c % 8] for c in cids],
    ])

    pids = np.unique(part)
    vers = pids[pids % 10 == 0]  # second versions: LEAD end-dating work
    all_p = np.concatenate([pids, vers])
    start = all_p % 700 + np.concatenate([np.zeros(len(pids), int), np.full(len(vers), 365)])
    _csv(os.path.join(dirs["crm"], f"prd_info_{batch}.csv"),
         [c for c, _ in CLIENT_FILES[1][3]], [
        all_p,
        [f"{CATS[p % 4]}-P{p:07d}" for p in all_p],
        [f" {ADJ[p % 8]} {NOUN[p // 8 % 8]}" for p in all_p],
        [None if p % 113 == 0 else 900.0 + p % 1000 / 10.0 for p in all_p],
        ["RMSTX"[p % 5] + " " for p in all_p],
        _day("2019-01-01", start),
    ])
    _csv(os.path.join(dirs["erp"], f"PX_CAT_G1V2_{batch}.csv"),
         ["id", "cat", "subcat", "maintenance"], [
        ["CO_RF", "AC_BR", "CL_SO", "BI_MT"],
        ["Components", "Accessories", "Clothing", "Bikes"],
        ["Road Frames", "Brakes", "Socks", "Mountain Bikes"],
        ["Yes", "No", "No", "Yes"],
    ])
    return len(okey)
