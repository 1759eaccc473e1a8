"""Output checkers, computed apart from the program.

Each check returns {"name", "ok", "detail"}; run.py reports the run as
correct only when every check holds.

- scene-wind: the noise-free control block of every product recovers its
  planted on-grid truth exactly, land pixels stay NaN, and a numpy
  re-computation of the reference cost functions (copol J, the ±phi
  ambiguity, crosspol refinement, the dual-pol blend, numpy's first-index
  argmin) agrees with a seeded sample of noisy pixels of every op.
- scene-streaks: every window of the noise-free control quadrant peaks
  within one bin of the planted orientation.
- query-mix: each query's output matches its DuckDB oracle (the program's
  own `SparkEntry.oracleSql`); q16, whose oracle is a cross join too large
  to run here, is checked against forward-model properties instead.

A query that reads the seed-independent tables (`fixed_input` in
oracles.json) and fails its check is a known fault: the check is marked
`known_fault`, and run.py counts that query's ops as failed instead of
reporting the run incorrect.
"""
import glob
import json
import math
import os
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SAMPLE_PX = 64          # noisy pixels re-computed per op
TIE_REL = 1e-9          # cost gaps below this share are near-ties: not compared
DIR_TOL_DEG = 1e-6


def result(name, ok, **detail):
    return {"name": name, "ok": bool(ok), "detail": detail}


def read_parquet_dir(d):
    files = sorted(glob.glob(os.path.join(d, "*.parquet")))
    if not files:
        raise FileNotFoundError(f"no parquet files under {d}")
    return pa.concat_tables([pq.read_table(f) for f in files])


def load_scene(stem):
    with open(stem + ".json") as f:
        meta = json.load(f)
    shape = (meta["lines"], meta["samples"])
    planes = {v: np.fromfile(f"{stem}.{v}.f64", dtype="<f8").reshape(shape) for v in meta["vars"]}
    return meta, planes


def circ_diff_deg(a, b):
    return np.abs((np.asarray(a) - np.asarray(b) + 180.0) % 360.0 - 180.0)


# ------------------------------------------------------------- scene-wind

def load_lut(d):
    t = read_parquet_dir(d).to_pandas()
    inc = np.unique(t["incidence"].to_numpy())
    wspd = np.unique(t["wspd"].to_numpy())
    has_phi = t["phi"].notna().any()
    phi = np.unique(t["phi"].dropna().to_numpy()) if has_phi else np.empty(0)
    keys = ["incidence", "wspd", "phi"] if has_phi else ["incidence", "wspd"]
    t = t.sort_values(keys)
    shape = (len(inc), len(wspd), len(phi)) if has_phi else (len(inc), len(wspd))
    db = 10.0 * np.log10(t["sigma0"].to_numpy().reshape(shape) + 1e-15)
    return inc, wspd, phi, db


def kernel_inputs(p, heading):
    """Per-pixel inputs of the inversion, from the raw scene planes:
    nesz flattening (per-sample means, per-line linear fit), the gmf_s1_v2
    dsig heuristic, ancillary encode to antenna convention, dB."""
    inc = p["incidence"]
    noise = p["nesz"]
    noise_mean = np.nanmean(noise, axis=0)
    inc_mean = np.mean(inc, axis=0)
    noise_db = 10.0 * np.log10(np.where(np.isnan(noise), noise_mean[None, :], noise))
    x = inc_mean - inc_mean.mean()
    a = (noise_db - noise_db.mean(axis=1, keepdims=True)) @ x / (x @ x)
    b = noise_db.mean(axis=1) - a * inc_mean.mean()
    nesz_flat = 10.0 ** ((inc_mean[None, :] * a[:, None] + b[:, None] - 1.0) / 10.0)
    c = 1.46852088 + 1.4058646 / (1.0 + np.exp(-1.57952257 * (inc - 25.61843791)))
    dsig = 1.0 / np.sqrt((p["sigma0_cr"] / nesz_flat) ** c)
    u, v = p["ancillary_u"], p["ancillary_v"]
    spd = np.hypot(u, v)
    meteo = np.mod(90.0 - np.degrees(np.arctan2(v, u)) + 180.0, 360.0)
    dir_sample = np.pi / 2 - np.radians(meteo - heading)
    return {"inc": inc, "s0co": 10.0 * np.log10(p["sigma0"] + 1e-15),
            "s0cr": 10.0 * np.log10(p["sigma0_cr"] + 1e-15), "dsig": dsig,
            "anc_re": spd * np.cos(dir_sample), "anc_im": spd * np.sin(dir_sample)}


def invert_px(co, cr, x, dsig_co=0.1):
    """Reference cost functions (windspeed.py:183-282, 424-428) for one
    pixel → (wspd, dir_deg, tie) where tie marks a near-tie decision."""
    inc_ax, w_ax, phi_ax, lut = co
    cinc_ax, cw_ax, _, clut = cr
    nan = float("nan")
    tie = False
    co_re = co_im = co_w = nan
    if not math.isnan(x["s0co"]):
        if math.isnan(x["anc_re"]) or math.isnan(x["anc_im"]):
            return nan, nan, False
        i = int(np.argmin(np.abs(inc_ax - x["inc"])))
        m_ant, m_azi = x["anc_re"], abs(x["anc_im"])   # phi in [0, 180]: ±phi ambiguity
        uc = w_ax[:, None] * np.cos(np.radians(phi_ax))[None, :] - m_ant
        vc = w_ax[:, None] * np.sin(np.radians(phi_ax))[None, :] - m_azi
        ds = (lut[i] - x["s0co"]) / dsig_co
        j = (uc / 2.0) * (uc / 2.0) + (vc / 2.0) * (vc / 2.0) + ds * ds
        flat = j.ravel()
        k = int(np.argmin(flat))                        # first index wins ties
        two = np.partition(flat, 1)[:2]
        tie |= (two[1] - two[0]) <= TIE_REL * max(1.0, abs(two[0]))
        co_w = w_ax[k // len(phi_ax)]
        ph = np.radians(phi_ax[k % len(phi_ax)])
        s_re, s_im = co_w * math.cos(ph), co_w * math.sin(ph)

        def angle(b_re, b_im):
            return math.atan2(x["anc_im"] * b_re - x["anc_re"] * b_im,
                              x["anc_re"] * b_re + x["anc_im"] * b_im)
        d1, d2 = angle(s_re, s_im), angle(s_re, -s_im)
        tie |= abs(abs(d1) - abs(d2)) <= 1e-12 and s_im != 0.0
        co_re, co_im = (s_re, s_im) if abs(d1) <= abs(d2) else (s_re, -s_im)
    cr_re = cr_im = cr_w = nan
    if not (math.isnan(x["s0cr"]) or math.isnan(x["dsig"])):
        i = int(np.argmin(np.abs(cinc_ax - x["inc"])))
        ds = (clut[i] - x["s0cr"]) / x["dsig"]
        j = ds * ds
        if not math.isnan(co_w):
            dw = (cw_ax - co_w) / 2.0
            j = j + dw * dw
        k = int(np.argmin(j))
        two = np.partition(j, 1)[:2]
        tie |= (two[1] - two[0]) <= TIE_REL * max(1.0, abs(two[0]))
        cr_w = cw_ax[k]
        ph = math.atan2(co_im, co_re) if not math.isnan(co_w) else 0.0
        cr_re, cr_im = cr_w * math.cos(ph), cr_w * math.sin(ph)
    keep_co = co_w < 5.0 or cr_w < 5.0
    w = co_w if keep_co else cr_w
    d = math.atan2(co_im, co_re) if keep_co else math.atan2(cr_im, cr_re)
    return w, math.degrees(d), tie


def check_wind(art, out):
    ops = json.load(open(os.path.join(out, "products", "ops.json")))
    co = load_lut(os.path.join(ops["luts_dir"], "lut-gmf_cmod5n"))
    cr = load_lut(os.path.join(ops["luts_dir"], "lut-gmf_s1_v2"))
    scenes = {}
    bad_ctrl = bad_land = bad_rows = 0
    n_ctrl = n_land = n_sampled = n_ties = 0
    mismatches = []
    for rec in ops["ops"]:
        op, k = rec["op"], rec["scene"]
        if k not in scenes:
            meta, planes = load_scene(os.path.join(ops["scenes_dir"], f"wind-{k}"))
            scenes[k] = (meta, planes, kernel_inputs(planes, meta["heading_deg"]))
        meta, planes, xin = scenes[k]
        nl, ns = meta["lines"], meta["samples"]
        t = read_parquet_dir(os.path.join(out, "products", f"op-{op}"))
        line = t["line"].to_numpy()
        sample = t["sample"].to_numpy()
        wspd = np.full((nl, ns), np.nan)
        ddeg = np.full((nl, ns), np.nan)
        wspd[line, sample] = t["wspd"].to_numpy(zero_copy_only=False)
        ddeg[line, sample] = t["dir_antenna_deg"].to_numpy(zero_copy_only=False)
        if t.num_rows != nl * ns:
            bad_rows += 1
        for c in meta["control"]:
            n_ctrl += 1
            got_w = wspd[c["line"], c["sample"]]
            if got_w != c["wspd"] or circ_diff_deg(ddeg[c["line"], c["sample"]], c["dir_deg"]) > DIR_TOL_DEG:
                bad_ctrl += 1
        land = np.isnan(planes["sigma0"])
        n_land += int(land.sum())
        bad_land += int((~np.isnan(wspd[land])).sum())
        ctrl = np.zeros((nl, ns), bool)
        for c in meta["control"]:
            ctrl[c["line"], c["sample"]] = True
        cand = np.flatnonzero(~ctrl.ravel())
        rng = np.random.default_rng([art["seed"], op])
        for idx in rng.choice(cand, SAMPLE_PX, replace=False):
            l, s = divmod(int(idx), ns)
            x = {key: float(arr[l, s]) for key, arr in xin.items()}
            w, d, tie = invert_px(co, cr, x)
            n_sampled += 1
            if tie:
                n_ties += 1
                continue
            same_w = (math.isnan(w) and math.isnan(wspd[l, s])) or w == wspd[l, s]
            same_d = (math.isnan(d) and math.isnan(ddeg[l, s])) or circ_diff_deg(d, ddeg[l, s]) <= DIR_TOL_DEG
            if not (same_w and same_d):
                mismatches.append({"op": op, "line": l, "sample": s, "numpy": [w, d],
                                   "program": [float(wspd[l, s]), float(ddeg[l, s])]})
    return [
        result("wind.control_block_exact", bad_ctrl == 0 and bad_rows == 0 and n_ctrl > 0,
               pixels=n_ctrl, wrong=bad_ctrl, products_with_wrong_row_count=bad_rows),
        result("wind.land_stays_nan", bad_land == 0, land_pixels=n_land, wrong=bad_land),
        result("wind.numpy_recompute", not mismatches and n_sampled > 0, sampled=n_sampled,
               near_ties_skipped=n_ties, mismatches=len(mismatches), first=mismatches[:3]),
    ]


# ---------------------------------------------------------- scene-streaks

def control_windows(meta):
    """Windows inside the control quadrant whose stencils see no pixel
    outside it: a side facing the rest of the scene keeps a margin of the
    coarsest stencil's reach; a side on the scene edge needs none."""
    c, win = meta["control"], meta["window"]
    reach = 2 * max(meta["downscales"])
    l_lo = c["line0"] + (0 if c["line0"] == 0 else reach)
    l_hi = c["line0"] + c["lines"] - (0 if c["line0"] + c["lines"] == meta["lines"] else reach)
    s_lo = c["sample0"] + (0 if c["sample0"] == 0 else reach)
    s_hi = c["sample0"] + c["samples"] - (0 if c["sample0"] + c["samples"] == meta["samples"] else reach)
    return [(wl, ws) for wl in range(meta["lines"] // win) for ws in range(meta["samples"] // win)
            if wl * win >= l_lo and (wl + 1) * win <= l_hi
            and ws * win >= s_lo and (ws + 1) * win <= s_hi]


def check_streaks(art, out):
    ops = json.load(open(os.path.join(out, "products", "ops.json")))
    bad, n, bad_ops = 0, 0, []
    for rec in ops["ops"]:
        op, k = rec["op"], rec["scene"]
        with open(os.path.join(ops["scenes_dir"], f"streaks-{k}.json")) as f:
            meta = json.load(f)
        c, win = meta["control"], meta["window"]
        t = read_parquet_dir(os.path.join(out, "products", f"op-{op}")).to_pandas()
        got = {(r.win_line, r.win_sample): r.peak_bin for r in t.itertuples()}
        for wl, ws in control_windows(meta):
            n += 1
            b = got.get((wl, ws))
            if b is None or min((b - c["bin"]) % 72, (c["bin"] - b) % 72) > 1:
                bad += 1
                bad_ops.append({"op": op, "window": [wl, ws], "peak_bin": b, "planted": c["bin"]})
    return [result("streaks.control_windows_peak", bad == 0 and n > 0, windows=n, wrong=bad,
                   first=bad_ops[:3])]


# -------------------------------------------------------------- query-mix

TABLES = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem",
          "events", "documents", "embeddings"]


def norm(v):
    if v is None:
        return None
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else round(v, 9) + 0.0
    return v


def rows_of(table, cols):
    data = [table.column(c).to_pylist() for c in cols]
    rows = [tuple(norm(col[i]) for col in data) for i in range(table.num_rows)]
    rows.sort(key=lambda r: tuple((x is None, str(x)) for x in r))
    return rows


def q16_properties(con, spark_t):
    """q16 forward-models both pols from the scene's truth wind (wspd on
    the copol LUT axis, phi on a 0.5° grid) and inverts them with the
    truth as ancillary: every distinct pixel yields one row, and the
    recovered wind stays close to the truth it was modelled from."""
    truth = con.execute("""
        SELECT DISTINCT l_orderkey AS okey, CAST(l_linenumber AS BIGINT) AS lnum,
               (l_orderkey + l_suppkey * 17) % 64 AS sample,
               2e-1 + (l_partkey % 249) * 2e-1 AS wspd_t, (l_suppkey % 360) * 5e-1 AS phi_t
        FROM lineitem WHERE l_orderkey % 50 = 0""").fetch_df()
    got = spark_t.to_pandas()
    uniq = truth.groupby(["okey", "lnum"]).filter(lambda g: len(g) == 1)
    m = uniq.merge(got, on=["okey", "lnum"], how="inner")
    if len(m) == 0:
        return result("query.q16_invert_dualpol.forward_model", False, rows=len(got), compared=0)
    err_w = np.abs(m["wspd"] - m["wspd_t"])
    err_d = circ_diff_deg(m["dir_deg"], m["phi_t"])
    # the observation sits off the LUT's incidence and phi grids, so the
    # argmin may move a step or two, more in phi at low speed; a wrong
    # kernel, ambiguity or blend moves the bulk by far more
    props = {"rows_per_pixel": len(got) == len(truth),
             "median_wspd_err_le_0.2": float(np.median(err_w)) <= 0.2 + 1e-9,
             "wspd_within_1ms_ge_95pct": float((err_w <= 1.0 + 1e-9).mean()) >= 0.95,
             "median_dir_err_le_2.5deg": float(np.median(err_d)) <= 2.5 + 1e-9,
             "dir_within_10deg_ge_90pct": float((err_d <= 10.0).mean()) >= 0.90}
    return result("query.q16_invert_dualpol.forward_model", all(props.values()),
                  rows=len(got), expected_rows=len(truth), compared=len(m), properties=props,
                  share_wspd_within_1ms=float((err_w <= 1.0 + 1e-9).mean()),
                  share_dir_within_10deg=float((err_d <= 10.0).mean()))


def connect(tables, cores, tmp):
    import duckdb
    os.makedirs(tmp, exist_ok=True)
    con = duckdb.connect(config={"threads": cores, "memory_limit": "2GB",
                                 "temp_directory": tmp, "max_temp_directory_size": "2GB"})
    for t in TABLES:
        path = os.path.join(tables, f"{t}.parquet")
        if os.path.isfile(path):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    return con


def check_queries(art, out, cores):
    meta = json.load(open(os.path.join(out, "outputs", "oracles.json")))
    fixed = set(meta["fixed_input"])
    tmp = os.path.join(out, "duckdb-tmp")
    cons = {False: connect(os.path.join(out, "tables"), cores, tmp),
            True: connect(os.path.join(out, "tables-fixed"), cores, tmp)}
    res, took = [], []
    for name in meta["rows"]:
        took.append(time.time())
        con = cons[name in fixed]
        spark_t = read_parquet_dir(os.path.join(out, "outputs", name))
        if name == "q16_invert_dualpol":
            res.append(q16_properties(con, spark_t))
            continue
        sql = meta["oracles"].get(name)
        if sql is None:
            res.append(result(f"query.{name}.oracle", False, error="no oracle"))
            continue
        try:
            duck = con.execute(sql).fetch_arrow_table()
        except Exception as e:  # the oracle itself failing is a failed check
            res.append(result(f"query.{name}.oracle", False, error=str(e)[:300]))
            continue
        s_cols, d_cols = sorted(spark_t.column_names), sorted(duck.column_names)
        if s_cols != d_cols:
            res.append(result(f"query.{name}.oracle", False, spark_cols=s_cols, oracle_cols=d_cols))
            continue
        a, b = rows_of(spark_t, s_cols), rows_of(duck, d_cols)
        diff = [i for i, (x, y) in enumerate(zip(a, b)) if x != y]
        res.append(result(f"query.{name}.oracle", len(a) == len(b) and not diff and len(a) > 0,
                          rows=len(a), oracle_rows=len(b), differing=len(diff),
                          first=[str(a[diff[0]]), str(b[diff[0]])] if diff else None))
    took.append(time.time())
    for r, name, t0, t1 in zip(res, meta["rows"], took, took[1:]):
        r["query"] = name
        r["seconds"] = t1 - t0
        if name in fixed and not r["ok"]:
            r["known_fault"] = True
    for con in cons.values():
        con.close()
    return res


def known_faults(res):
    """Names of the queries whose ops fail by a known fault."""
    return {r["query"] for r in res if r.get("known_fault")}


def run(workload, art, out, cores):
    if workload == "scene-wind":
        res = check_wind(art, out)
    elif workload == "scene-streaks":
        res = check_streaks(art, out)
    else:
        res = check_queries(art, out, cores)
    return res
