"""Seeded corpus generator for the engine workloads.

For one (workload, seed) it writes, under an output directory:

  dict_1.txt, dict_2.txt      dictionary templates covering every header
  <ST>_NSLP.txt               lunch claims, one per state
  <ST>_SBP.txt                breakfast claims, one per state
  <ST>_NCES.txt               NCES school list, one per state (not joined)
  expected.tsv                the hand-cleaned table the pipeline must match
  manifest.json               file list, input size, expected digest

The same (workload, seed) gives byte-identical files.  The dirt is only
what the reference contract defines (FIXTURES.md A1-A4, DIVERGENCES.md
#1/#2/#5/#7): BOM-marked and quoted headers, per-state header order,
junk and NOT USED columns, 4-6 digit district ids padded on one side
only, blank split columns that take the Derive fallbacks, zero operating
days, about 5% unmatched claim keys and exact duplicate rows.  Duplicate
or case-colliding headers, ragged rows and empty files have no defined
behaviour yet and are never generated.

The expected table is computed here in plain Python, independently of
the engine, following the column semantics of `graft.engine.Pipeline.run`
(dictionary drop/rename, Derive columns, three-part-key inner join with
the breakfast side's overlapping columns suffixed `_b`, DISTINCT), plus
the `state` column the benchmark partitions by.
"""
import hashlib
import json
import os
import random
import struct

# Workload shapes.  Both have about the same raw row count, so the
# difference between them is per-file and per-state overhead.
SHAPES = {
    "clean_bulk": {"states": 2, "schools": 400, "dates": 11},
    "clean_many_states": {"states": 4, "schools": 10, "dates": 11},
    # tiny corpus for the benchmark's own tests
    "tiny": {"states": 2, "schools": 6, "dates": 3},
}

LUNCH = ["AGENCY_CODE", "AGENCY_NAME", "school name", "claim date",
         "district id", "School ID", "PUBLIC", "SCHOOL TYPE",
         "School Level-Original", "CEP (Y/N)", "Lunch Meals-Free",
         "Lunch Meals-Reduced", "Lunch Meals-Free and Reduced",
         "Lunch Meals-Paid", "Operating Days-Lunch Only", "Operating Days",
         "Enrollment-Free", "Enrollment-Reduced",
         "Enrollment-Free and Reduced", "Enrollment-Total", "School Year"]
BREAKFAST = ["AGENCY_CODE", "AGENCY_NAME", "school name", "claim date",
             "district id", "School ID", "TRADITIONAL_MODEL",
             "MID_MORNING_MODEL", "CLASSROOM_MODEL", "REDUCED_PRICE_MODEL",
             "GRAB_N_GO_MODEL", "FREE_MODEL", "Breakfast Meals-Free",
             "Breakfast Meals-Reduced", "Breakfast Meals-Free and Reduced",
             "Operating Days-Breakfast Only", "Operating Days"]
NCES = ["School Name", "State School ID", "NCES School ID",
        "District Name", "Grade Range", "Junk Notes"]
FLAGS = ["TRADITIONAL_MODEL", "MID_MORNING_MODEL", "CLASSROOM_MODEL",
         "REDUCED_PRICE_MODEL", "GRAB_N_GO_MODEL", "FREE_MODEL"]

# raw header -> clean name; None drops, "NOT USED ..." drops
CLEAN = {h: h for h in LUNCH + BREAKFAST}
CLEAN.update({"AGENCY_CODE": "Agency Code",
              "AGENCY_NAME": "NOT USED - agency name",
              "School Name": "school name",
              "State School ID": "NOT USED - state id",
              "NCES School ID": "NCES School ID",
              "District Name": "District Name",
              "Grade Range": "Grade Range",
              "Junk Notes": None})

LEVELS = ["High School", "Elementary School", "Middle School", "Junior H.S",
          "Elementary/Sec Combined", "RCCI", "Unknown", "Pre-K Center"]
LEVEL_STD = {"High School": "High", "Elementary School": "Elementary",
             "Middle School": "Middle", "Junior H.S": "Middle"}
DATES = ["2017-08-01", "2017-09-01", "2017-10-01", "2017-11-01",
         "2017-12-01", "2018-01-01", "2018-02-01", "2018-03-01",
         "2018-04-01", "2018-05-01", "2018-06-01"]
KEYS = ("school name", "claim date")
OVERLAP = ("Agency Code", "district id", "School ID", "Operating Days")


def state_codes(n):
    return [chr(65 + i // 26) + chr(65 + i % 26) for i in range(n)]


# ---- Derive semantics (graft.engine.Derive), NULL as None ----

def dbl(s):
    return None if s is None else float(s)


def sum_fb(a, b, fallback):
    if a is not None and b is not None:
        return float(a) + float(b)
    return dbl(fallback)


def ratio(num, den):
    if num is None or den is None or den == 0.0:
        return None
    return float(num) / den


def type_original(public, stype):
    if public == "YES":
        return "Public-RCCI" if stype == "RCCI" else "Public"
    if public == "NO":
        return "Nonpublic-RCCI" if stype == "RCCI" else "Nonpublic"
    return None


def type_standardized(orig):
    return {"Public": "Public", "Nonpublic": "Private",
            "Public-RCCI": "RCCI", "Nonpublic-RCCI": "RCCI"}.get(orig)


def derive_lunch(r, state):
    d = dict(r)
    d["School Type-Original"] = type_original(r["PUBLIC"], r["SCHOOL TYPE"])
    fr = sum_fb(r["Lunch Meals-Free"], r["Lunch Meals-Reduced"],
                r["Lunch Meals-Free and Reduced"])
    d["FR Lunch Meals"] = fr
    days = dbl(r["Operating Days-Lunch Only"])
    d["FR Lunch ADP"] = ratio(fr, days if days is not None
                              else dbl(r["Operating Days"]))
    d["Unique ID"] = "-".join([state, "0" + r["School ID"],
                               r["district id"]])
    d["NCES ID"] = r["district id"].rjust(6, "0")[:6]
    d["School_Year"] = (r["School Year"] if r["School Year"] is not None
                        else "17-18")
    d["Target Area"] = None
    fre = sum_fb(r["Enrollment-Free"], r["Enrollment-Reduced"],
                 r["Enrollment-Free and Reduced"])
    d["FR Enrollment"] = fre
    cep = r["CEP (Y/N)"]
    if cep == "N":
        pct = ratio(fre, dbl(r["Enrollment-Total"]))
    elif cep == "Y":
        free, paid = dbl(r["Enrollment-Free"]), dbl(r["Lunch Meals-Paid"])
        pct = ratio(free, None if free is None or paid is None
                    else free + paid)
    else:
        pct = None
    d["FR Enrollment Percentage"] = pct
    lvl = r["School Level-Original"]
    d["School Level-Standardized"] = LEVEL_STD.get(lvl, "Other")
    d["School Type-Standardized"] = type_standardized(
        d["School Type-Original"])
    return d


def derive_breakfast(r):
    d = dict(r)
    d["Breakfast Delivery Model from State Agency-Original"] = ", ".join(
        lab + "=" + (r[f] or "") for lab, f in zip("OPCRGT", FLAGS))
    fr = sum_fb(r["Breakfast Meals-Free"], r["Breakfast Meals-Reduced"],
                r["Breakfast Meals-Free and Reduced"])
    d["FR Breakfast Meals"] = fr
    days = dbl(r["Operating Days-Breakfast Only"])
    d["FR Breakfast ADP"] = ratio(fr, days if days is not None
                                  else dbl(r["Operating Days"]))
    return d


DOUBLE_COLS = ["FR Lunch Meals", "FR Lunch ADP", "FR Enrollment",
               "FR Enrollment Percentage", "FR Breakfast Meals",
               "FR Breakfast ADP"]


def joined_row(lunch, breakfast, state):
    out = {}
    for k, v in lunch.items():
        out[k] = v
    for k, v in breakfast.items():
        if k in KEYS:
            continue
        out[k + "_b" if k in OVERLAP else k] = v
    out["state"] = state
    return out


# ---- order-independent digest (mirrored by perfbench.Digest) ----

def cell(v):
    if v is None:
        return "\x00"
    if isinstance(v, float):
        return "d" + struct.pack(">d", v).hex()
    return "s" + v


def row_hash(values):
    h = hashlib.sha256("\x1f".join(cell(v) for v in values).encode())
    return int.from_bytes(h.digest()[:8], "big")


def digest(rows):
    """Sum mod 2^64 of per-row hashes; rows are value tuples whose
    columns are already in name order."""
    return sum(row_hash(r) for r in rows) % (1 << 64)


# ---- raw file generation ----

def blank(rng, p, value):
    return None if rng.random() < p else value


def lunch_values(rng, school):
    free, red = rng.randint(20, 400), rng.randint(0, 80)
    split_blank = rng.random() < 0.1
    e_free, e_red = rng.randint(50, 600), rng.randint(0, 120)
    e_blank = rng.random() < 0.1
    r = {
        "AGENCY_CODE": school["agency"],
        "AGENCY_NAME": "Agency " + school["agency"],
        "School ID": school["sid"],
        "PUBLIC": school["public"],
        "SCHOOL TYPE": school["stype"],
        "School Level-Original": school["level"],
        "CEP (Y/N)": school["cep"],
        "Lunch Meals-Free": str(free),
        "Lunch Meals-Reduced": None if split_blank else str(red),
        "Lunch Meals-Free and Reduced":
            blank(rng, 0.2, str(free + red)) if split_blank else None,
        "Lunch Meals-Paid": str(rng.randint(0, 300)),
        "Operating Days-Lunch Only": _days(rng),
        "Operating Days": blank(rng, 0.02, str(rng.randint(15, 23))),
        "Enrollment-Free": str(e_free),
        "Enrollment-Reduced": None if e_blank else str(e_red),
        "Enrollment-Free and Reduced":
            blank(rng, 0.2, str(e_free + e_red)) if e_blank else None,
        "Enrollment-Total": str(e_free + e_red + rng.randint(0, 900)),
        "School Year": blank(rng, 0.3, rng.choice(["16-17", "17-18"])),
    }
    return r


def breakfast_values(rng, school):
    free, red = rng.randint(5, 200), rng.randint(0, 40)
    split_blank = rng.random() < 0.1
    r = {
        "AGENCY_CODE": school["agency"],
        "AGENCY_NAME": "Agency " + school["agency"],
        "School ID": school["sid"],
        "Breakfast Meals-Free": str(free),
        "Breakfast Meals-Reduced": None if split_blank else str(red),
        "Breakfast Meals-Free and Reduced":
            blank(rng, 0.2, str(free + red)) if split_blank else None,
        "Operating Days-Breakfast Only": _days(rng),
        "Operating Days": blank(rng, 0.02, str(rng.randint(15, 23))),
    }
    for f in FLAGS:
        r[f] = blank(rng, 0.05, rng.choice("YN"))
    return r


def _days(rng):
    u = rng.random()
    if u < 0.1:
        return None   # generic Operating Days fallback
    if u < 0.13:
        return "0"    # zero denominator -> NULL ADP
    return str(rng.randint(15, 23))


def header_line(rng, names):
    """Per-file header dirt: quoted names, BOM at file start."""
    quoted = rng.random() < 0.3
    cells = ['"%s"' % n if quoted else n for n in names]
    line = "\t".join(cells)
    return ("\ufeff" + line) if rng.random() < 0.5 else line


def write_tsv(path, header, names, rows):
    with open(path, "w", encoding="utf-8", newline="\n") as f:
        f.write(header + "\n")
        for r in rows:
            f.write("\t".join("" if r.get(n) is None else r[n]
                              for n in names) + "\n")


def junk_cols(rng, prefix, st):
    return [f"{prefix}_{st}_{k}" for k in range(rng.randint(1, 3))]


def with_junk(rng, names, junk):
    names = list(names)
    rng.shuffle(names)
    for j in junk:
        names.insert(rng.randint(0, len(names)), j)
    return names


def generate(out_dir, workload, seed):
    shape = SHAPES[workload]
    rng = random.Random(f"{workload}:{seed}")
    os.makedirs(out_dir, exist_ok=True)
    states = state_codes(shape["states"])
    dict_rows = {1: [], 2: []}
    for h in BREAKFAST:
        dict_rows[1].append((h, CLEAN[h]))
    for h in LUNCH:
        if h not in BREAKFAST:
            dict_rows[2].append((h, CLEAN[h]))
    for h in NCES[1:]:
        dict_rows[2].append((h, CLEAN[h]))

    files, expected, raw_rows, claim_rows = [], [], 0, 0
    for st in states:
        schools = []
        for i in range(shape["schools"]):
            did = rng.randint(1000, 999999)
            pad = rng.choice(["lunch", "breakfast", "neither"])
            schools.append({
                "name": f"School {st}-{i:05d}",
                "agency": f"{st}{rng.randint(1, 99):02d}",
                "sid": str(rng.randint(1, 9999)),
                "public": rng.choice(["YES", "YES", "NO"]),
                "stype": rng.choice(["Regular"] * 5 + ["RCCI"]),
                "level": rng.choice(LEVELS),
                "cep": rng.choice(["N", "N", "Y", "Y", "X"]),
                "lunch_did": str(did).zfill(6) if pad == "lunch" else str(did),
                "bfast_did": (str(did).zfill(6) if pad == "breakfast"
                              else str(did)),
            })
        lunch, bfast = [], []
        for s in schools:
            for date in DATES[:shape["dates"]]:
                u = rng.random()
                key = {"school name": s["name"], "claim date": date}
                if u >= 0.025:   # else breakfast-only key
                    r = lunch_values(rng, s)
                    r.update(key, **{"district id": s["lunch_did"]})
                    lunch.append(r)
                    if rng.random() < 0.02:
                        lunch.append(dict(r))   # exact duplicate
                if u < 0.025 or u >= 0.05:   # else lunch-only key
                    r = breakfast_values(rng, s)
                    r.update(key, **{"district id": s["bfast_did"]})
                    bfast.append(r)
                    if rng.random() < 0.02:
                        bfast.append(dict(r))

        for kind, base, rows, prefix, dno in (
                ("NSLP", LUNCH, lunch, "JUNK", 2),
                ("SBP", BREAKFAST, bfast, "EXTRA", 1)):
            junk = junk_cols(rng, prefix, st)
            for k, j in enumerate(junk):
                dict_rows[dno].append(
                    (j, None if k % 2 == 0 else "NOT USED - state notes"))
                for r in rows:
                    r[j] = "x%d" % rng.randint(0, 9)
            names = with_junk(rng, base, junk)
            path = os.path.join(out_dir, f"{st}_{kind}.txt")
            write_tsv(path, header_line(rng, names), names, rows)
            files.append(path)
            raw_rows += len(rows)
            claim_rows += len(rows)

        nces_rows = [{"School Name": s["name"],
                      "State School ID": f"{st}-{s['sid']}",
                      "NCES School ID": f"{rng.randint(10**11, 10**12 - 1)}",
                      "District Name": f"District {s['lunch_did']}",
                      "Grade Range": rng.choice(["KG-05", "06-08", "09-12"]),
                      "Junk Notes": "n%d" % rng.randint(0, 9)}
                     for s in schools]
        path = os.path.join(out_dir, f"{st}_NCES.txt")
        write_tsv(path, "\t".join('"%s"' % n for n in NCES), NCES, nces_rows)
        files.append(path)
        raw_rows += len(nces_rows)

        expected.extend(expected_rows(lunch, bfast, st))

    for dno in (1, 2):
        path = os.path.join(out_dir, f"dict_{dno}.txt")
        rows = [{"raw_data_column": f"c{dno}_{i}",
                 "raw_data_column_name": raw,
                 "equivalent_clean_data_name": clean,
                 "notes": "generated"}
                for i, (raw, clean) in enumerate(dict_rows[dno])]
        names = ["raw_data_column", "raw_data_column_name",
                 "equivalent_clean_data_name", "notes"]
        write_tsv(path, "\t".join(names), names, rows)
        files.append(path)

    columns = sorted(expected[0].keys())
    tuples = sorted({tuple(r[c] for c in columns) for r in expected},
                    key=lambda t: tuple("" if v is None else str(v)
                                        for v in t))
    with open(os.path.join(out_dir, "expected.tsv"), "w",
              encoding="utf-8", newline="\n") as f:
        f.write("\t".join(columns) + "\n")
        for t in tuples:
            f.write("\t".join("" if v is None else
                              (repr(v) if isinstance(v, float) else v)
                              for v in t) + "\n")

    manifest = {
        "workload": workload,
        "seed": seed,
        "states": states,
        "input": {"files": len(files),
                  "rows": raw_rows,
                  "bytes": sum(os.path.getsize(p) for p in files)},
        # data rows of the claim files, the ones Pipeline.run reads
        "claim_rows": claim_rows,
        "expected": {"columns": columns,
                     "double_columns": sorted(DOUBLE_COLS),
                     "rows": len(tuples),
                     "digest": str(digest(tuples))},
    }
    with open(os.path.join(out_dir, "manifest.json"), "w") as f:
        json.dump(manifest, f, indent=1, sort_keys=True)
    return manifest


def expected_rows(lunch, bfast, state):
    """Inner join on (school, date, lpad(district, 6)), as Pipeline.run."""
    def clean(r, names):
        out = {}
        for n in names:
            c = CLEAN.get(n)
            if c is None or "NOT USED" in c:
                continue
            out[c] = r.get(n)
        return out
    by_key = {}
    for r in bfast:
        b = derive_breakfast(clean(r, BREAKFAST))
        k = (b["school name"], b["claim date"],
             b["district id"].rjust(6, "0")[:6])
        by_key.setdefault(k, []).append(b)
    out = []
    for r in lunch:
        lr = derive_lunch(clean(r, LUNCH), state)
        k = (lr["school name"], lr["claim date"],
             lr["district id"].rjust(6, "0")[:6])
        for b in by_key.get(k, []):
            out.append(joined_row(lr, b, state))
    return out


if __name__ == "__main__":
    import sys
    m = generate(sys.argv[1], sys.argv[2], int(sys.argv[3]))
    print(json.dumps(m["input"]), m["expected"]["rows"])
