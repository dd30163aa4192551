"""The stream check of lifecycle_stream: after the drain, the silver
table must equal a batch recomputation over every landed event — each
event exactly once, joined to its customer."""
import pandas as pd

import datagen
import oracle


def expected(seed, sf, n_files, landed):
    tables = datagen.make_tables(seed, sf, ("customer", "events"))
    frames = datagen.event_files(seed, tables["events"], n_files)[:landed]
    ev = pd.concat(frames, ignore_index=True).drop_duplicates("event_id")
    cust = tables["customer"][["c_custkey", "c_nationkey", "c_mktsegment"]]
    out = ev.merge(cust, left_on="user_id", right_on="c_custkey", how="inner")
    return out.drop(columns=["c_custkey"])


def check(job, result, sf, n_files):
    want = expected(int(job["seed"]), sf, n_files, len(result["landed"]))
    con = oracle.connect(job["data"])
    con.register("want", want)
    con.execute(f"CREATE TEMP VIEW got AS SELECT * FROM "
                f"read_parquet('{job['out']}/silver/*.parquet')")
    errs = oracle.compare(con, "got", "want", "silver")
    dups = con.execute("SELECT count(*) - count(DISTINCT event_id) FROM got").fetchone()[0]
    if dups:
        errs.append(f"{dups} events appear more than once")
    con.close()
    return {"silver_after_drain": errs}
