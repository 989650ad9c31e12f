"""Seeded ICNARC / Philips ICCA corpus for the `linkage` workload.

Writes the nine input files `cli.LinkagePipeline` reads (same names and
layouts as `src/test/resources/domain`) plus `truth.json`, the counts the
pipeline must reproduce. The truth is computed from the generator's own
model of the stays, not by re-running the pipeline's logic on the files.

Planted defects (rates are shares of the stays or rows named):
  - SPLIT_RATE of Philips stays are two fragment rows of one encounterId;
  - WRONG_FRAGMENT_RATE of Philips rows carry a wrong encounterId that the
    encounterId issue list repairs;
  - WW_RATE of ICNARC rows carry a wrong CIS id that the WW list repairs;
  - CARDIAC_RATE of stays are cardiac-unit rows both sources drop;
  - chartevents are LAB_SHARE labresults, the rest ptassess; lab values
    are string-valued attributes, JUNK_RATE of them unparseable text;
  - the encounter extract ends with the SQL Server report footer. The
    chartevents extracts carry none: E2 casts `encounterId` before any
    filter, so a footer row fails the whole pass with CAST_INVALID_INPUT
    (an open defect of `LinkagePipeline.buildChartevents`).
"""
import json
import os

import numpy as np

SPLIT_RATE = 0.20
WRONG_FRAGMENT_RATE = 0.02
WW_RATE = 0.01
CARDIAC_RATE = 0.05
UNLINKED_RATE = 0.03     # Philips stays with no ICNARC record
NO_CIS_RATE = 0.005      # ICNARC rows with an empty CIS id (dropped)
ORPHAN_RATE = 0.02       # ICNARC rows whose CIS id matches no stay
NO_CMP_RATE = 0.02       # linked ICNARC numbers missing from the CMP extract
UNKEYED_RATE = 0.05      # chartevents whose (intervention, attribute) has no key row
LAB_SHARE = 0.20
JUNK_RATE = 0.03
CMP_CODES = 205
KEY_ROWS = 96
KEY_VARIABLES = 33

# String-valued lab attributes: `LinkagePipeline.stringAttributeIds`.
STRING_ATTRIBUTE_IDS = [16240, 6847, 6849, 6851, 8590, 34870, 34873, 8584,
                        3566, 25545]

CORE_CODES = [
    ("N01", "ICNARC Number"), ("N02", "ICNARC CMP Number"), ("S01", "Sex"),
    ("D01", "Date of Birth"), ("H01", "Height in cm"), ("W01", "Weight in kg"),
    ("DA1", "Date of admission to your unit"),
    ("TA1", "Time of admission to your unit"),
    ("DD1", "Date of discharge from your unit"),
    ("TD1", "Time of discharge from your unit"),
    ("DR1", "Date fully ready for discharge"),
    ("TR1", "Time fully ready for discharge"),
    ("DB1", "Date of body removed"), ("TB1", "Time of body removed"),
    ("SU1", "Status at ultimate discharge from hospital"),
    ("SH1", "Status at discharge from your hospital"),
    ("SN1", "Status at discharge from your unit"),
    ("PR1", "Primary reason for admission to your unit"),
    ("AT1", "Admission Type"), ("RD1", "Reason for discharge from your unit"),
]
EXPLANATIONS = ["Merged duplicate record", "Transfer split", "Wrong bed",
                "Test patient reused", ""]
FOOTER = "({n} rows affected)\nCompletion time: 2019-05-20T11:02:13\n"
EPOCH = np.datetime64("2015-01-01T00:00:00")


def _ts(minutes):
    """Minutes after EPOCH → 'yyyy-MM-dd HH:mm:ss' strings."""
    t = EPOCH + np.asarray(minutes, dtype="int64").astype("timedelta64[m]")
    return [str(x).replace("T", " ") for x in t.astype("datetime64[s]")]


def cmp_dictionary():
    extra = [(f"X{i:03d}", f"CMP item {i:03d}")
             for i in range(CMP_CODES - len(CORE_CODES))]
    return CORE_CODES + extra


def interventions_key():
    """KEY_ROWS rows over KEY_VARIABLES variables; (interventionId,
    attributeId) pairs are unique so the left join never fans out."""
    n_lab = len(STRING_ATTRIBUTE_IDS)
    per_var = [2] * KEY_VARIABLES
    for i in range(KEY_ROWS - 2 * KEY_VARIABLES):
        per_var[i % KEY_VARIABLES] += 1
    rows, intervention = [], 7001
    for v in range(KEY_VARIABLES):
        lab = v >= KEY_VARIABLES - n_lab
        name = f"Lab {v:02d}" if lab else f"Observation {v:02d}"
        attribute = STRING_ATTRIBUTE_IDS[v - (KEY_VARIABLES - n_lab)] if lab else 9001 + v
        for _ in range(per_var[v]):
            rows.append((name, f"{name} charted {intervention}", intervention,
                         f"A{attribute}", attribute,
                         "PtLabResult" if lab else "PtAssessment",
                         "lab" if lab else "flowsheet"))
            intervention += 1
    return rows


def generate(out_dir, seed, stays, events_per_stay=20):
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n = stays
    enc = 100000 + np.arange(n)
    cardiac = rng.random(n) < CARDIAC_RATE
    split = rng.random(n) < SPLIT_RATE
    in_min = rng.integers(0, 2 * 365 * 1440, n)
    los = rng.integers(6 * 60, 20 * 1440, n)
    out_min = in_min + los
    age = rng.integers(18, 96, n)
    gender = rng.choice(np.array(["Male", "Female", ""]), n, p=[0.5, 0.45, 0.05])

    # -- Philips encounter extract: one or two fragment rows per stay
    frag_stay = np.concatenate([np.arange(n), np.nonzero(split)[0]])
    second = np.arange(len(frag_stay)) >= n
    cut = in_min[frag_stay] + (los[frag_stay] * rng.uniform(0.2, 0.8, len(frag_stay))).astype("int64")
    first_of_split = ~second & split[frag_stay]
    f_in = np.where(second, cut, in_min[frag_stay])
    f_out = np.where(first_of_split, cut, out_min[frag_stay])
    frag_id = enc[frag_stay].copy()
    wrong = rng.random(len(frag_stay)) < WRONG_FRAGMENT_RATE
    frag_id[wrong] = 900000 + np.arange(wrong.sum())
    order = rng.permutation(len(frag_stay))
    f_in_s, f_out_s = _ts(f_in), _ts(f_out)
    lines = ["encounterId\tptCensusId\tage\tinTime\toutTime\ttNumber\t"
             "lengthOfStay (mins)\tgender\tclinicalUnitId"]
    for r in order:
        s = frag_stay[r]
        lines.append(f"{frag_id[r]}\t{500000 + r}\t{age[s]}\t{f_in_s[r]}\t{f_out_s[r]}\t"
                     f"T{s:06d}\t{float(f_out[r] - f_in[r])}\t{gender[s]}\t"
                     f"{8 if cardiac[s] else 5}")
    _write(out_dir, "encounter_summary.tsv",
           "\n".join(lines) + "\n" + FOOTER.format(n=len(order)))

    issues = ["encounterId_CIS,encounterId_Adjusted,clinicalUnitId,Explanation"]
    for r in np.nonzero(wrong)[0]:
        s = frag_stay[r]
        expl = EXPLANATIONS[int(rng.integers(len(EXPLANATIONS)))]
        issues.append(f"{frag_id[r]},{enc[s]},{8.0 if cardiac[s] else 5.0},{expl}")
    for j in range(max(1, int(n * 0.002))):   # cardiac-unit issues, filtered
        issues.append(f"{800000 + j},{810000 + j},8.0,Cardiac unit issue")
    _write(out_dir, "issue_list.encounterId.csv", "\n".join(issues) + "\n")

    # -- ICNARC link table and WW repairs
    linked = ~cardiac & (rng.random(n) >= UNLINKED_RATE)
    icnarc_no = 300000 + np.arange(n)
    has_row = linked | cardiac
    no_cis = has_row & ~cardiac & (rng.random(n) < NO_CIS_RATE)
    ww = has_row & ~cardiac & ~no_cis & (rng.random(n) < WW_RATE)
    ids = ["ICNARC number,CIS Patient ID,CIS Episode ID,Unit ID,Key,"
           "Readmission during this hospital stay"]
    ww_rows = ["ICNARC Number,Corrected encID,Unit ID"]
    n_orphans = int(n * ORPHAN_RATE)
    for s in rng.permutation(n):
        if not has_row[s]:
            continue
        cis = "" if no_cis[s] else str(7000000 + s if ww[s] else enc[s])
        readmit = "Yes" if rng.random() < 0.1 else ""
        ids.append(f"{icnarc_no[s]},{cis},{40000 + s},{14 if cardiac[s] else 1},K{s},{readmit}")
        if ww[s]:
            ww_rows.append(f"{icnarc_no[s]},{enc[s]},1")
    for j in range(n_orphans):
        ids.append(f"{400000 + j},{600000 + j},{90000 + j},1,O{j},")
    _write(out_dir, "icnarc_ids.csv", "\n".join(ids) + "\n")
    _write(out_dir, "issue_list.ww.csv", "\n".join(ww_rows) + "\n")

    # -- CMP extract: H91 rows for general-unit records, B16 for cardiac
    dictionary = cmp_dictionary()
    _write(out_dir, "cmp_dictionary.csv",
           "CODE,Description\n" + "".join(f"{c},{d}\n" for c, d in dictionary))
    extra_codes = [c for c, _ in dictionary[len(CORE_CODES):]]
    in_cmp = has_row & ~no_cis & (cardiac | (rng.random(n) >= NO_CMP_RATE))
    # every code appears at least once, or the XML reader's inferred schema
    # lacks the column and the derivations fail to resolve it
    died = rng.random(n) < 0.15
    status_pick = rng.integers(0, 4, n)   # which of SU1/SH1/SN1 is filled (3 = none)
    adm_s, out_s = _ts(in_min), _ts(out_min)
    patients = []
    for k, s in enumerate(np.nonzero(in_cmp)[0]):
        f = {"N01": icnarc_no[s], "N02": "B16" if cardiac[s] else "H91",
             "S01": "F" if gender[s] == "Female" else "M",
             "D01": str(np.datetime64("1920-01-01") + np.timedelta64(int(rng.integers(0, 28000)), "D")),
             "DA1": adm_s[s][:10], "TA1": adm_s[s][11:],
             "PR1": f"{rng.integers(1, 10)}.{rng.integers(1, 10)}.{rng.integers(1, 10)}",
             "AT1": "LUPSMR"[int(rng.integers(6))], "RD1": "NMCR"[int(rng.integers(4))]}
        if rng.random() >= 0.05:
            f["H01"] = int(rng.integers(145, 200))
            f["W01"] = int(rng.integers(40, 150))
        if died[s]:
            f["DB1"], f["TB1"] = out_s[s][:10], out_s[s][11:]
        else:
            f["DD1"], f["TD1"] = out_s[s][:10], out_s[s][11:]
            f["DR1"], f["TR1"] = out_s[s][:10], "08:00:00"
        if status_pick[s] < 3:
            f[("SU1", "SH1", "SN1")[status_pick[s]]] = "D" if died[s] else "A"
        f[extra_codes[k % len(extra_codes)]] = "1"
        for c in np.nonzero(rng.random(len(extra_codes)) < 0.03)[0]:
            f[extra_codes[c]] = str(int(rng.integers(0, 100)))
        patients.append("  <patient>" + "".join(f"<{c}>{v}</{c}>" for c, v in f.items())
                        + "</patient>")
    if len(patients) < len(extra_codes) or died.sum() == 0:
        raise ValueError(f"stays={stays} too small to plant every CMP code")
    _write(out_dir, "icnarc_cmp.xml",
           '<?xml version="1.0" encoding="UTF-8"?>\n<CMP xmlns="http://example.org/cmp">\n'
           + "\n".join(patients) + "\n</CMP>\n")

    key = interventions_key()
    _write(out_dir, "interventions_key.csv",
           "Variable,Intervention name (longLabel),interventionId,"
           "Attribute name (shortLabel),attributeId,Back end location (ICCA table),"
           "Frontend Source\n" + "".join(",".join(map(str, r)) + "\n" for r in key))

    # -- chartevents over every stay (the cohort join keeps some of them)
    per_stay = rng.poisson(events_per_stay, n)
    per_stay[rng.random(n) < 0.01] = 0
    ev_stay = np.repeat(np.arange(n), per_stay)
    m = len(ev_stay)
    lab = rng.random(m) < LAB_SHARE
    assess_pairs = [(r[2], r[4], r[0]) for r in key if r[5] == "PtAssessment"]
    lab_pairs = [(r[2], r[4], r[0]) for r in key if r[5] == "PtLabResult"]
    pick_a = rng.integers(0, len(assess_pairs), m)
    pick_l = rng.integers(0, len(lab_pairs), m)
    unkeyed = rng.random(m) < UNKEYED_RATE
    junk = rng.random(m) < JUNK_RATE
    chart = in_min[ev_stay] + (los[ev_stay] * rng.random(m)).astype("int64")
    chart_s = _ts(chart)
    store_s = _ts(chart + rng.integers(1, 90, m))
    values = np.round(rng.normal(80, 25, m), 1)
    header = ("encounterId\tchartTime\tstoreTime\tinterventionId\tattributeId\t"
              "valueNumber\tvalueString\tclinicalUnitId")
    ptassess, labres = [header], [header]
    variable = []
    for i in range(m):
        s = ev_stay[i]
        if lab[i]:
            iv, at, var = lab_pairs[pick_l[i]]
            text = "unrecordable" if junk[i] else f"{abs(values[i]) / 40:.2f}"
            row_vals = f"\t{text}"
        else:
            iv, at, var = assess_pairs[pick_a[i]]
            row_vals = f"{values[i]}\t"
        if unkeyed[i]:
            iv, var = 8000 + int(iv) % 97, None
        variable.append(var)
        (labres if lab[i] else ptassess).append(
            f"{enc[s]}\t{chart_s[i]}\t{store_s[i]}\t{iv}\t{at}\t{row_vals}\t"
            f"{8 if cardiac[s] else 5}")
    _write(out_dir, "chartevents.ptassess.tsv", "\n".join(ptassess) + "\n")
    _write(out_dir, "chartevents.labresults.tsv", "\n".join(labres) + "\n")

    # -- planted truth, from the model above
    philips = ~cardiac
    icustays = philips & linked & ~no_cis
    cohort = icustays & in_cmp
    cohort_events = cohort[ev_stay]
    with_events = np.zeros(n, bool)
    with_events[ev_stay] = True
    entities = {}
    for i in np.nonzero(cohort_events)[0]:
        if variable[i] is not None:
            entities.setdefault(variable[i], set()).add(int(ev_stay[i]))
    mortality = {}
    for s in np.nonzero(cohort)[0]:
        status = "null" if status_pick[s] == 3 else ("D" if died[s] else "A")
        mortality[status] = mortality.get(status, 0) + 1
    truth = {
        "seed": seed, "stays": stays, "events_per_stay": events_per_stay,
        "philips_rows": int(philips.sum()),
        "icustays_rows": int(icustays.sum()),
        "cohort_rows": int(cohort.sum()),
        "chartevents_rows": int(cohort_events.sum() + (cohort & ~with_events).sum()),
        "n_entities": {v: len(e) for v, e in sorted(entities.items())},
        "mortality": dict(sorted(mortality.items())),
        "input_rows": {"encounter_fragments": len(order), "chartevents": m,
                       "ptassess": int((~lab).sum()), "labresults": int(lab.sum()),
                       "cmp_patients": len(patients)},
        "planted": {"split_stays": int(split.sum()), "wrong_fragment_ids": int(wrong.sum()),
                    "ww_repairs": int(ww.sum()), "cardiac_stays": int(cardiac.sum())},
    }
    _write(out_dir, "truth.json", json.dumps(truth, indent=1, sort_keys=True) + "\n")
    return truth


def _write(out_dir, name, text):
    with open(os.path.join(out_dir, name), "w", encoding="utf-8", newline="\n") as f:
        f.write(text)
