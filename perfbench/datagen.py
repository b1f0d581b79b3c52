"""Input generators for the benchmark.

Two generators, both deterministic in their seed:

- `make_warehouse(out_dir)` writes the ten registry tables (region
  nation customer supplier part orders lineitem events documents
  embeddings), one parquet file each, shaped like the engine's reference
  test data at scale factor 0.01: the same row counts, columns, types and
  value distributions, and the same planted near-duplicate documents
  (5%, each a copy of another document plus a " dup" token). The
  tables are seed-independent: they are built once per checkout and
  reused by every run.
- `make_landing(landing_dir, seed, ...)` writes Lark-shaped CSVs for K
  daily partitions and returns the row counts the pipeline must produce.
  Each tick after the first plants a known mix of unchanged, updated and
  net-new keys in the two dims, so the SCD2 merges do real work and the
  expected dim and fact counts are known exactly.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

WAREHOUSE_SEED = 42

_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_ADJ = ["large", "hot", "blue", "old", "cold", "red", "small", "shiny"]
_NOUN = ["ring", "bolt", "plate", "gear", "widget", "rod", "anvil", "gizmo"]
_PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_WORDS = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window"
).split()
_LANGS = ["en", "zh", "es", "fr", "de"]
_LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]


def _write(table: pa.Table, out_dir: str, name: str) -> None:
    tmp = os.path.join(out_dir, f".{name}.parquet.tmp")
    pq.write_table(table, tmp)
    os.replace(tmp, os.path.join(out_dir, f"{name}.parquet"))


def _days(rng, n: int, start: str, end: str) -> np.ndarray:
    lo, hi = np.datetime64(start, "D"), np.datetime64(end, "D")
    off = rng.integers(0, int((hi - lo).astype(int)) + 1, n)
    return (lo + off).astype("datetime64[us]")


def _money(rng, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def make_warehouse(out_dir: str) -> dict[str, int]:
    """Write the ten registry tables (scale factor 0.01); return row counts."""
    rng = np.random.default_rng(WAREHOUSE_SEED)
    os.makedirs(out_dir, exist_ok=True)
    n_cust, n_supp, n_part = 1_500, 100, 2_000
    n_ord, n_line, n_ev, n_users = 15_000, 60_000, 10_000, 150
    n_docs, n_emb = 500, 500
    i32, i64, f64, s, ts = pa.int32(), pa.int64(), pa.float64(), pa.string(), pa.timestamp("us")

    tables: dict[str, pa.Table] = {}
    tables["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), i32), "r_name": pa.array(_REGIONS, s)}
    )
    tables["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), i32),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)], s),
            "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
        }
    )
    tables["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(n_cust), i64),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)], s),
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
            "c_acctbal": pa.array(_money(rng, n_cust, -999.99, 9999.99), f64),
            "c_mktsegment": pa.array(rng.choice(_SEGMENTS, n_cust), s),
        }
    )
    tables["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n_supp), i64),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)], s),
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
            "s_acctbal": pa.array(_money(rng, n_supp, -999.99, 9999.99), f64),
        }
    )
    names = np.array([f"{a} {b}" for a in _ADJ for b in _NOUN])
    tables["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(n_part), i64),
            "p_name": pa.array(rng.choice(names, n_part), s),
            "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)], s),
            "p_type": pa.array(rng.choice(_PTYPES, n_part), s),
            "p_size": pa.array(rng.integers(1, 51, n_part), i32),
            "p_retailprice": pa.array(np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 1), f64),
        }
    )
    tables["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_ord), i64),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
            "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], n_ord), s),
            "o_totalprice": pa.array(_money(rng, n_ord, 1000.0, 500_000.0), f64),
            "o_orderdate": pa.array(_days(rng, n_ord, "1995-01-01", "2001-08-01"), ts),
            "o_orderpriority": pa.array(rng.choice(_PRIORITIES, n_ord), s),
        }
    )
    tables["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), i64),
            "l_partkey": pa.array(rng.integers(0, n_part, n_line), i64),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), i64),
            "l_linenumber": pa.array(rng.integers(1, 8, n_line), i32),
            "l_quantity": pa.array(rng.integers(1, 51, n_line).astype(float), f64),
            "l_extendedprice": pa.array(_money(rng, n_line, 900.0, 105_000.0), f64),
            "l_discount": pa.array(rng.integers(0, 11, n_line) / 100.0, f64),
            "l_tax": pa.array(rng.integers(0, 9, n_line) / 100.0, f64),
            "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n_line), s),
            "l_linestatus": pa.array(rng.choice(["F", "O"], n_line), s),
            "l_shipdate": pa.array(_days(rng, n_line, "1995-01-02", "2001-11-04"), ts),
        }
    )
    start = np.datetime64("2024-01-01T00:00:00", "us")
    offs = np.sort(rng.integers(0, 30 * 86_400 * 1_000_000, n_ev))
    tables["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(n_ev), i64),
            "ts": pa.array(start + offs.astype("timedelta64[us]"), ts),
            "user_id": pa.array(rng.integers(0, n_users, n_ev), i64),
            "event_type": pa.array(rng.choice(_EVENT_TYPES, n_ev), s),
            "value": pa.array(np.round(rng.exponential(50.0, n_ev), 2), f64),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)], s),
        }
    )
    texts = [
        " ".join(rng.choice(_WORDS, int(k))) for k in rng.integers(10, 101, n_docs)
    ]
    # 5% of the documents, at random positions, become a copy of another
    # random document plus " dup"; a copy of a copy gets a second " dup"
    for i in np.sort(rng.choice(n_docs, n_docs // 20, replace=False)):
        j = int(rng.integers(0, n_docs - 1))
        texts[i] = texts[j + (j >= i)] + " dup"
    tables["documents"] = pa.table(
        {
            "doc_id": pa.array(np.arange(n_docs), i64),
            "text": pa.array(texts, s),
            "lang": pa.array(rng.choice(_LANGS, n_docs, p=_LANG_P), s),
            "source": pa.array([f"src{i % 20}" for i in range(n_docs)], s),
            "n_chars": pa.array([len(t) for t in texts], i64),
        }
    )
    emb = rng.standard_normal((n_emb, 64)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    tables["embeddings"] = pa.table(
        {
            "vec_id": pa.array(np.arange(n_emb), i64),
            "embedding": pa.array(list(emb), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n_emb), i32),
        }
    )
    for name, t in tables.items():
        _write(t, out_dir, name)
    return {name: t.num_rows for name, t in tables.items()}


# -- Lark landing ----------------------------------------------------------

_VN_NAMES = ["Nguyễn Văn An", "Trần Thị Bình", "Lê Hoàng Cường", "Phạm Thu Dung", "O'Brien"]
_JOBS = ["eng", "pm", "qa", "ops", "design", "principal"]
_REASONS = ["đi muộn", "về sớm", "", "quên chấm công"]
_BASE = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)


def _ms(t: dt.datetime) -> int:
    return int(t.timestamp() * 1000)


def _land(landing: str, name: str, partition: str, df: pd.DataFrame) -> None:
    d = os.path.join(landing, name, partition)
    os.makedirs(d, exist_ok=True)
    df.to_csv(os.path.join(d, "data.csv"), index=True)  # leading index col like the source


def partitions(k: int) -> list[str]:
    return [(_BASE + dt.timedelta(days=t)).strftime("%Y-%m-%d") for t in range(k)]


def make_landing(
    landing: str,
    seed: int,
    k: int = 2,
    n_emp: int = 60,
    n_ven: int = 12,
    pay_per_tick: int = 30,
    mix: tuple[float, float, float] = (0.5, 0.3, 0.2),
) -> dict[str, int]:
    """Land K daily partitions of the five registered Lark tables.

    Tick 0 bootstraps n_emp employees and n_ven vendors. Each later tick
    re-lands `mix` = (unchanged, updated, net-new) fractions of the
    current key count: unchanged rows repeat the stored version (an SCD2
    no-op), updated rows carry a newer Last Modified Date and a changed
    attribute (job title, vendor note: one new version plus one closed
    row), net-new rows open a key.
    Returns the row counts the pipeline must leave after all K ticks."""
    rng = np.random.default_rng(seed)
    emps: dict[str, dict] = {}  # user_id -> latest landed version
    vens: dict[str, dict] = {}
    exp = dict.fromkeys(
        ("dim_employee", "dim_employee_current", "dim_vendor", "dim_vendor_current",
         "fact_attendance", "fact_attendance_record", "fact_payment",
         "cube_attendance_report", "lark_employee"),
        0,
    )
    next_emp, next_ven = 0, 0

    def new_emp(t_ms: int) -> dict:
        nonlocal next_emp
        uid = f"u{next_emp:05d}"
        next_emp += 1
        name = _VN_NAMES[int(rng.integers(len(_VN_NAMES)))]
        return {
            "user_id": uid, "employee_no": str(next_emp), "name": name,
            "user": str([{"id": f"ou_{uid}", "name": name}]),
            "employee_type": "ft", "email": f"{uid}@x.vn", "mobile": str(900000 + next_emp),
            "department_ids": str([f"dep{int(rng.integers(5))}"]) if rng.random() < 0.8 else None,
            "departments": "d",
            # half the employees report to an earlier one (same batch or stored dim)
            "leader": str([{"id": f"ou_u{int(rng.integers(next_emp - 1)):05d}", "name": "lead"}])
            if next_emp > 1 and rng.random() < 0.5 else None,
            "join_time": float(_ms(_BASE - dt.timedelta(days=int(rng.integers(30, 900))))),
            "job_title": _JOBS[int(rng.integers(len(_JOBS)))], "city": "HN",
            "gender": "fm"[int(rng.integers(2))],
            "Date Created": t_ms, "Last Modified Date": t_ms,
        }

    def new_ven(t_ms: int) -> dict:
        nonlocal next_ven
        vid = f"VENDOR-{next_ven:03d}"
        next_ven += 1
        return {
            "Vendor": str([{"text": vid}]), "Tên tài khoản": "Công ty TNHH",
            "Số tài khoản": str(1000 + next_ven), "Ngân hàng": "VCB", "QR code": "",
            "Ghi chú": "", "Date Created": t_ms, "Last Modified Date": t_ms,
            "_id": vid,
        }

    for t, part in enumerate(partitions(k)):
        day = _BASE + dt.timedelta(days=t)
        t_ms = _ms(day + dt.timedelta(hours=6))
        # -- dims: unchanged / updated / net-new -----------------------------
        if t == 0:
            emp_rows = [new_emp(t_ms) for _ in range(n_emp)]
            ven_rows = [new_ven(t_ms) for _ in range(n_ven)]
            upd_e = upd_v = 0
        else:
            emp_rows, upd_e = _tick_dim(rng, emps, mix, t_ms, new_emp, "job_title",
                                        lambda r: _JOBS[(_JOBS.index(r["job_title"]) + 1) % len(_JOBS)])
            ven_rows, upd_v = _tick_dim(rng, vens, mix, t_ms, new_ven, "Ghi chú",
                                        lambda r: f"rev{t}")
        new_e = sum(r["user_id"] not in emps for r in emp_rows)
        new_v = sum(r["_id"] not in vens for r in ven_rows)
        for r in emp_rows:
            emps[r["user_id"]] = dict(r)
        for r in ven_rows:
            vens[r["_id"]] = dict(r)
        emp_df = pd.DataFrame(emp_rows)
        emp_df.loc[len(emp_df)] = {**emp_rows[0], "user_id": None}  # null key: dropped in bronze
        _land(landing, "employee", part, emp_df)
        _land(landing, "vendor", part, pd.DataFrame(ven_rows).drop(columns="_id"))
        exp["dim_employee"] += new_e + upd_e
        exp["dim_employee_current"] += new_e
        exp["dim_vendor"] += new_v + upd_v
        exp["dim_vendor_current"] += new_v
        exp["lark_employee"] += len(emp_rows)

        # -- facts: one attendance row per current employee ------------------
        att, rec = [], []
        shift_in = _ms(day + dt.timedelta(hours=8, minutes=30))
        shift_out = _ms(day + dt.timedelta(hours=17, minutes=30))
        for uid in emps:
            cin = _ms(day + dt.timedelta(minutes=int(rng.integers(30, 180))))
            cout = _ms(day + dt.timedelta(hours=9, minutes=int(rng.integers(0, 120))))
            late = bool(rng.random() < 0.3)
            att.append({
                "User id": uid, "Result id": f"a{t}-{uid}", "Date": _ms(day),
                "Employee": "e", "Group name": "g", "Shift name": "s",
                "Check in record id": f"ci{t}-{uid}", "Check in time": cin,
                "Check in shift time": shift_in, "Check in location name": "office",
                "Check in - Is offsite": None if rng.random() < 0.2 else late,
                "Check in type": "t", "Check in result": "ok",
                "Check in result supplement": "",
                "Check out record id": f"co{t}-{uid}",
                # NaN epoch-millis: the column lands as float with empty cells
                "Check out time": np.nan if rng.random() < 0.1 else cout,
                "Check out shift time": shift_out, "Check out location name": "office",
                "Check out - Is offsite": False, "Check out type": "t",
                "Check out result": "ok", "Check out result supplement": "",
                "Employee type": "ft", "Nhân sự không đồng ý phiếu phạt": False,
                "Đi muộn / về sớm": late, "Muộn 20p/sớm 20p": False,
                "Giá phạt đi muộn/ về sớm": str([{"text": 50000}]) if late else 0,
                "Phạt muộn 20p/sớm 20p": 20000 if late else 0,
                "Tiền phạt": 70000 if late else None,
                "Lý do": _REASONS[int(rng.integers(len(_REASONS)))],
            })
            for j in range(2):
                rec.append({
                    "User id": uid, "Record id": f"r{t}-{uid}-{j}", "Date": _ms(day),
                    "Employee": "e", "Check time": cin if j == 0 else cout,
                    "Check location name": "office",
                    "Is offsite": None if rng.random() < 0.5 else False,
                })
        _land(landing, "attendance", part, pd.DataFrame(att))
        _land(landing, "attendance_record", part, pd.DataFrame(rec))
        exp["fact_attendance"] += len(att)
        exp["cube_attendance_report"] += len(att)
        exp["fact_attendance_record"] += len(rec)

        pay = []
        uids, vids = list(emps), list(vens)
        for i in range(pay_per_tick):
            uid = uids[int(rng.integers(len(uids)))]
            price = int(rng.integers(1, 50)) * 10_000
            qty = int(rng.integers(1, 5))
            pay.append({
                "Payment": str([{"text": f"Order {i}"}]), "Loại chi phí": str(["Ăn uống"]),
                "Ngày mua": _ms(day + dt.timedelta(hours=3)), "Tên dự án": "proj",
                "Hàng hóa": "food",
                "Đơn giá": str([{"text": price}]) if i % 2 else price,
                "Số lượng": qty, "Tổng tiền": price * qty, "Hóa đơn": "",
                "Minh chứng chuyển khoản": "",
                "Thông tin người cần chuyển khoản": str([{"text": vids[int(rng.integers(len(vids)))]}]),
                "Số tài khoản": "123", "Ngân hàng": "VCB",
                "Người mua": str({"id": f"ou_{uid}", "name": emps[uid]["name"]}),
                "Ghi chú": "", "CEO duyệt": bool(i % 3), "Kế toán đã thanh toán": None,
                "Người mua đã nhận được tiền": False,
                "Ngày CEO duyệt": _ms(day + dt.timedelta(hours=4)),
                "Ngày kế toán chuyển khoản": np.nan, "Ngày người mua nhận tiền": np.nan,
                "Payment_ID": str([{"text": f"PAY-{t}-{i}"}]),
            })
        _land(landing, "payment", part, pd.DataFrame(pay))
        exp["fact_payment"] += len(pay)
    return exp


def _tick_dim(rng, current: dict, mix, t_ms: int, make_new, field: str, bump):
    """Rows for one later tick of a dim: unchanged, updated and net-new
    keys in the proportions `mix` of the current key count."""
    keys = list(current)
    n = len(keys)
    n_same, n_upd, n_new = (int(round(f * n)) for f in mix)
    picked = rng.permutation(n)[: n_same + n_upd]
    rows = [dict(current[keys[i]]) for i in picked[:n_same]]
    for i in picked[n_same:]:
        r = dict(current[keys[i]])
        r[field] = bump(r)
        r["Last Modified Date"] = t_ms
        rows.append(r)
    rows += [make_new(t_ms) for _ in range(n_new)]
    return rows, len(picked) - n_same
