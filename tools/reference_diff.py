#!/usr/bin/env python3
"""Differential parity test against the ACTUAL reference implementation.

Loads the reference's silver/gold cleaning functions
(/root/reference/scripts/...) with boto3/S3 stubbed out and datetime.now()
pinned to the engine's asOf, runs them in pandas over the engine-generated
raw CSVs, and compares against the engine's silver/gold parquet outputs.

Documented deviations tolerated (SURVEY.md §7.4):
 - ratios: pandas emits inf/NaN on zero/NaN denominators, engine emits
   null - (null vs inf/NaN) counts as a match on ratio columns.
 - float aggregates compare to 1e-6 relative (pandas float sums vs the
   engine's exact decimal accumulation).
Title-cased columns compare EXACTLY: the engine's TitleCasePy expression
reproduces Python str.title() (the former initcap/casefold tolerance is
gone as of round 2).

Usage: python3 tools/reference_diff.py /tmp/medallion
(after: sbt 'runMain graft.tools.RunMedallion /tmp/medallion 1.0 42')
"""
import glob, importlib.util, math, os, sys, types
from datetime import datetime

import numpy as np
import pandas as pd


ASOF = datetime(2026, 1, 1, 0, 0, 0)


class FakeDatetime(datetime):
    @classmethod
    def now(cls, tz=None):
        return ASOF


def load_reference_module(path, name):
    """Import a reference script with its S3/env deps stubbed. Exits
    with code 2 when the script is absent: parity cannot be checked."""
    if not os.path.isfile(path):
        print(f"reference-diff: {path} is missing; parity not checked")
        sys.exit(2)
    for mod in ["boto3", "botocore", "botocore.exceptions", "dotenv"]:
        if mod not in sys.modules:
            m = types.ModuleType(mod)
            m.ClientError = Exception
            m.load_dotenv = lambda *a, **k: None
            sys.modules[mod] = m
    for mod in ["scripts", "scripts.config", "scripts.config.aws_credentials"]:
        if mod not in sys.modules:
            m = types.ModuleType(mod)
            m.get_aws_credentials = lambda *a, **k: None
            sys.modules[mod] = m
    spec = importlib.util.spec_from_file_location(name, path)
    m = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(m)
    m.datetime = FakeDatetime  # pin now()/now().year to asOf
    return m


def read_raw(base, table):
    parts = sorted(glob.glob(f"{base}/raw/{table}/part-*.csv"))
    df = pd.concat([pd.read_csv(p) for p in parts], ignore_index=True)
    return df


def read_engine(base, layer, table):
    return pd.read_parquet(f"{base}/{layer}/{table}")


RATIO_COLS = {"payment_to_premium_ratio", "claim_ratio", "avg_payment", "avg_claim"}


def cmp_frames(name, ref, eng, key, fails):
    if len(ref) != len(eng):
        fails.append(f"{name}: rowcount ref={len(ref)} eng={len(eng)}")
        return
    refc = set(ref.columns)
    engc = set(eng.columns)
    if refc != engc:
        fails.append(f"{name}: columns ref-only={refc-engc} eng-only={engc-refc}")
        return
    r = ref.sort_values(key).reset_index(drop=True)
    e = eng.sort_values(key).reset_index(drop=True)
    for c in sorted(refc):
        rv, ev = r[c], e[c]
        bad = 0
        example = None
        for i in range(len(rv)):
            a, b = rv.iloc[i], ev.iloc[i]
            na, nb = (a is None or (isinstance(a, float) and math.isnan(a)) or a is pd.NaT,
                      b is None or (isinstance(b, float) and math.isnan(b)) or b is pd.NaT)
            if na and nb:
                continue
            if c in RATIO_COLS:
                # inf/NaN (pandas) vs null (engine) = documented deviation
                if nb and (na or not np.isfinite(a)):
                    continue
            if na != nb:
                bad += 1
                example = example or (i, a, b)
                continue
            if isinstance(a, float) or isinstance(b, float):
                if abs(float(a) - float(b)) > 1e-6 * max(1.0, abs(float(a))):
                    bad += 1
                    example = example or (i, a, b)
            elif isinstance(a, pd.Timestamp) or isinstance(b, pd.Timestamp):
                if pd.Timestamp(a) != pd.Timestamp(b):
                    bad += 1
                    example = example or (i, a, b)
            elif a != b:
                bad += 1
                example = example or (i, a, b)
        if bad:
            fails.append(f"{name}.{c}: {bad}/{len(rv)} mismatches, first={example}")


def main(base):
    silver_mod = load_reference_module(
        "/root/reference/scripts/silver/load_silver.py", "ref_silver")
    fails = []
    log = silver_mod.setup_logger()

    raw = {t: read_raw(base, t) for t in
           ["clients", "crm_clients", "vehicles", "policies", "claims", "payments"]}

    crm_clean, clients_clean = silver_mod.clean_clients_data(
        raw["clients"].copy(), raw["crm_clients"].copy(), log)
    vehicles_clean = silver_mod.clean_vehicles_data(raw["vehicles"].copy(), log)
    policies_clean = silver_mod.clean_policies_data(raw["policies"].copy(), log)
    claims_clean = silver_mod.clean_claims_data(raw["claims"].copy(), log)
    payments_clean = silver_mod.clean_payments_data(raw["payments"].copy(), log)

    cmp_frames("silver/clients", clients_clean, read_engine(base, "silver", "clients"),
               "client_id", fails)
    cmp_frames("silver/crm_clients", crm_clean, read_engine(base, "silver", "crm_clients"),
               "client_id", fails)
    cmp_frames("silver/vehicles", vehicles_clean, read_engine(base, "silver", "vehicles"),
               "vehicle_id", fails)
    cmp_frames("silver/policies", policies_clean, read_engine(base, "silver", "policies"),
               "policy_id", fails)
    cmp_frames("silver/claims", claims_clean, read_engine(base, "silver", "claims"),
               "claim_id", fails)
    cmp_frames("silver/payments", payments_clean, read_engine(base, "silver", "payments"),
               "payment_id", fails)

    # ---- gold, reproduced with the reference's own pandas recipe
    # (load_gold.py:50-140; reimported frames = our cleaned silver) ----
    crm_sel = crm_clean[["client_id", "client_type", "risk_level", "marketing_opt_in"]]
    dim_clients = clients_clean.merge(crm_sel, on="client_id", how="left")
    cmp_frames("gold/dim_clients", dim_clients,
               read_engine(base, "gold", "dim_clients"), "client_id", fails)

    v = vehicles_clean.copy()
    v["vehicle_key"] = v["vehicle_id"]
    dim_vehicles = v[["vehicle_key", "vehicle_id", "client_id", "brand",
                      "model", "year", "plate"]].drop_duplicates()
    cmp_frames("gold/dim_vehicles", dim_vehicles,
               read_engine(base, "gold", "dim_vehicles"), "vehicle_id", fails)

    policies_agg = policies_clean.groupby("client_id").agg(
        total_policies=("policy_id", "count"),
        total_premium=("premium", "sum"),
        active_policies=("status", lambda x: (x == "Activa").sum())).reset_index()
    pol_min = policies_clean[["policy_id", "client_id"]].drop_duplicates()
    pay = payments_clean.merge(pol_min, on="policy_id", how="left")
    payments_agg = pay.groupby("client_id").agg(
        total_payments=("amount", "sum"), num_payments=("payment_id", "count"),
        last_payment_date=("payment_date", "max")).reset_index()
    clm = claims_clean.merge(pol_min, on="policy_id", how="left")
    claims_agg = clm.groupby("client_id").agg(
        total_claims=("amount", "sum"), num_claims=("claim_id", "count")).reset_index()
    summary = clients_clean[["client_id"]].drop_duplicates()
    summary = summary.merge(policies_agg, on="client_id", how="left")
    summary = summary.merge(payments_agg, on="client_id", how="left")
    summary = summary.merge(claims_agg, on="client_id", how="left")
    summary["payment_to_premium_ratio"] = summary["total_payments"] / summary["total_premium"]
    summary["claim_ratio"] = summary["total_claims"] / summary["total_premium"]
    summary["avg_payment"] = summary["total_payments"] / summary["num_payments"]
    summary["avg_claim"] = summary["total_claims"] / summary["num_claims"]
    eng_fact = read_engine(base, "gold", "fact_client_summary")
    # pandas leaves count columns as float (NaN-able) after the left join;
    # engine keeps them as nullable int64 - align dtypes before compare
    cmp_frames("gold/fact_client_summary", summary, eng_fact, "client_id", fails)

    if fails:
        print("REFERENCE-DIFF FAILURES:")
        for f in fails:
            print("  ", f)
        return 1
    print("reference-diff: all silver+gold tables match the reference "
          "implementation (deviations per SURVEY.md §7.4 tolerated)")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1] if len(sys.argv) > 1 else "/tmp/medallion"))
