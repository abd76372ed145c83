"""Hostile-data probe: NULL-heavy random twins of all ten tables,
then EVERY oracle-backed registered query compared to its DuckDB
oracle. This is the sweep that found 16 real latent divergences in
round 5 (NULL orderings, NULL-key join row loss, concat_ws semantics,
ANSI crashes, positional CSV mis-mapping) that the NULL-free fixtures
can never hit. Run it whenever operators are added or NULL handling
changes: python tools/hostile_probe.py [seed] [query ...] (extra
args restrict the sweep to those queries; data generation is
unchanged so a restricted run sees the same twins).

Expected steady-state: 2 documented holdouts -- ml_onehot (one-hot
columns are definitionally the fixture vocabulary) and, under some
seeds, any future op with a documented degenerate-input caveat
(agg_corr_matrix's ANSI corr on a constant column).
"""
import atexit
import os
import random
import shutil
import sys
import tempfile
_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _ROOT)
sys.path.insert(0, os.path.join(_ROOT, "tests"))
import duckdb
import pyarrow as pa, pyarrow.parquet as pq
from pyspark.sql import SparkSession
from recommendation_system_spark_ml_spark.session import default_driver_memory
spark = (SparkSession.builder.master("local[8]")
         .config("spark.driver.memory", default_driver_memory())
         .config("spark.ui.enabled", "false").getOrCreate())
spark.sparkContext.setLogLevel("ERROR")
from tests.conftest import assert_df_matches
from recommendation_system_spark_ml_spark.registry import all_specs
specs = all_specs()
random.seed(int(sys.argv[1]) if len(sys.argv) > 1 else 3)
print("seed:", sys.argv[1] if len(sys.argv) > 1 else 3, flush=True)
out = tempfile.mkdtemp(prefix="probe_all_")
# the whole script reads this twin; removed however the script ends
atexit.register(shutil.rmtree, out, ignore_errors=True)

def maybe(v, p=0.1):
    return None if random.random() < p else v

def write(name, cols):
    pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))

R, N, S, C, P, O = 3, 6, 8, 20, 15, 50
write("region", {"r_regionkey": pa.array(range(R), pa.int64()),
                 "r_name": pa.array([maybe(f"REGION{i}") for i in range(R)], pa.string()),
                 "r_comment": pa.array([maybe("c%d" % i) for i in range(R)], pa.string())})
write("nation", {"n_nationkey": pa.array(range(N), pa.int64()),
                 "n_name": pa.array([maybe(f"NATION{i}") for i in range(N)], pa.string()),
                 "n_regionkey": pa.array([maybe(i % R, 0.05) for i in range(N)], pa.int64()),
                 "n_comment": pa.array([maybe("nc") for _ in range(N)], pa.string())})
write("supplier", {"s_suppkey": pa.array(range(1, S+1), pa.int64()),
                   "s_name": pa.array([maybe("Supplier#%d" % i) for i in range(S)], pa.string()),
                   "s_nationkey": pa.array([maybe(i % N, 0.05) for i in range(S)], pa.int64()),
                   "s_acctbal": pa.array([maybe(random.randint(-9999, 99999)/100.0) for _ in range(S)], pa.float64()),
                   "s_address": pa.array([maybe("addr") for _ in range(S)], pa.string()),
                   "s_phone": pa.array([maybe("123-456") for _ in range(S)], pa.string()),
                   "s_comment": pa.array([maybe("sc") for _ in range(S)], pa.string())})
write("customer", {"c_custkey": pa.array(range(1, C+1), pa.int64()),
                   "c_name": pa.array([maybe("Customer#%09d" % i) for i in range(C)], pa.string()),
                   "c_nationkey": pa.array([maybe(i % N, 0.05) for i in range(C)], pa.int64()),
                   "c_mktsegment": pa.array([maybe(random.choice(["BUILDING","MACHINERY","AUTOMOBILE"])) for _ in range(C)], pa.string()),
                   "c_acctbal": pa.array([maybe(random.randint(-99999, 999999)/100.0) for _ in range(C)], pa.float64()),
                   "c_address": pa.array([maybe("ca") for _ in range(C)], pa.string()),
                   "c_phone": pa.array([maybe("987") for _ in range(C)], pa.string()),
                   "c_comment": pa.array([maybe("cc") for _ in range(C)], pa.string())})
write("part", {"p_partkey": pa.array(range(1, P+1), pa.int64()),
               "p_name": pa.array([maybe(" ".join(random.sample(["red","green","blue","small","large"], 2))) for _ in range(P)], pa.string()),
               "p_brand": pa.array([maybe("Brand#%d" % random.randint(1,5)) for _ in range(P)], pa.string()),
               "p_type": pa.array([maybe(random.choice(["ECONOMY BRASS","STANDARD COPPER","PROMO STEEL"])) for _ in range(P)], pa.string()),
               "p_size": pa.array([maybe(random.randint(1, 50)) for _ in range(P)], pa.int32()),
               "p_container": pa.array([maybe(random.choice(["SM BOX","LG CASE","MED BAG"])) for _ in range(P)], pa.string()),
               "p_retailprice": pa.array([maybe(random.randint(100, 200000)/100.0) for _ in range(P)], pa.float64()),
               "p_mfgr": pa.array([maybe("Mfgr#%d" % random.randint(1,5)) for _ in range(P)], pa.string()),
               "p_comment": pa.array([maybe("pc") for _ in range(P)], pa.string())})
write("orders", {"o_orderkey": pa.array(range(1, O+1), pa.int64()),
                 "o_custkey": pa.array([maybe(random.randint(1, C), 0.08) for _ in range(O)], pa.int64()),
                 "o_orderstatus": pa.array([maybe(random.choice("OFP")) for _ in range(O)], pa.string()),
                 "o_totalprice": pa.array([maybe(random.randint(100, 50000000)/100.0) for _ in range(O)], pa.float64()),
                 "o_orderdate": pa.array([maybe(random.randint(8000, 12000)*86400*1_000_000) for _ in range(O)], pa.timestamp("us")),
                 "o_orderpriority": pa.array([maybe(random.choice(["1-URGENT","2-HIGH","3-MEDIUM","4-NOT SPECIFIED","5-LOW"])) for _ in range(O)], pa.string()),
                 "o_comment": pa.array([maybe("oc") for _ in range(O)], pa.string())})
L = 120
li_rows = []
for i in range(L):
    li_rows.append((random.randint(1, O), random.randint(1, P), random.randint(1, S), i % 7 + 1))
write("lineitem", {"l_orderkey": pa.array([r[0] for r in li_rows], pa.int64()),
                   "l_partkey": pa.array([maybe(r[1], 0.05) for r in li_rows], pa.int64()),
                   "l_suppkey": pa.array([maybe(r[2], 0.05) for r in li_rows], pa.int64()),
                   "l_linenumber": pa.array([r[3] for r in li_rows], pa.int32()),
                   "l_quantity": pa.array([maybe(float(random.randint(1, 50))) for _ in range(L)], pa.float64()),
                   # r8 divergence class (agg_winsorized_mean): a small
                   # tied-price pool so order statistics TIE at the 5%/95%
                   # ranks -- interpolated percentiles differ by 1 ulp
                   # across engines there; the discrete quantile must not.
                   "l_extendedprice": pa.array([maybe(random.choice([199.99, 42.0, 87654.32]) if random.random() < 0.4 else random.randint(100, 10000000)/100.0) for _ in range(L)], pa.float64()),
                   "l_discount": pa.array([maybe(random.randint(0, 10)/100.0) for _ in range(L)], pa.float64()),
                   "l_tax": pa.array([maybe(random.randint(0, 8)/100.0) for _ in range(L)], pa.float64()),
                   "l_returnflag": pa.array([maybe(random.choice("RAN")) for _ in range(L)], pa.string()),
                   "l_linestatus": pa.array([maybe(random.choice("OF")) for _ in range(L)], pa.string()),
                   "l_shipdate": pa.array([maybe(random.randint(8000, 12000)*86400*1_000_000) for _ in range(L)], pa.timestamp("us"))})
E = 90
t = 1_704_067_200
ev = []
for i in range(E):
    # r8 divergence class (ts_downsample_m4 / ts_sequence_pattern):
    # ~15% duplicate timestamps so pixel buckets hold TIED extremes
    # (min_by/max_by tie-break) and pattern steps share a ts.
    if ev and random.random() < 0.15:
        ev.append((i, ev[-1][1]))
        continue
    t += random.randint(60, 11000)
    ev.append((i, t))
# r6 ADVICE divergence class: pre-1970 timestamps (negative epoch)
# exercise the sign-of-dividend div/% traps -- ts_calendar_profile's
# dow/hour must stay in-domain via exact floor div + pmod.
for i in random.sample(range(E), 6):
    ev[i] = (ev[i][0], ev[i][1] - 3_000_000_000)  # ~1874-1899
write("events", {"event_id": pa.array([r[0] for r in ev], pa.int64()),
                 "ts": pa.array([maybe(r[1]*1_000_000, 0.08) for r in ev], pa.timestamp("us")),
                 "user_id": pa.array([i % 4 for i in range(E)], pa.int64()),
                 "event_type": pa.array([maybe(random.choice(["click","purchase","view","signup","error"]), 0.06) for _ in range(E)], pa.string()),
                 "value": pa.array([maybe(random.choice([7.25, -7.25]) if random.random() < 0.3 else random.randint(-10000, 10000)/100.0) for _ in range(E)], pa.float64()),
                 # 'k' variants exercise fn_map's try_cast: numeric
                 # string, bare int, and NON-numeric (ANSI-cast trap)
                 "props": pa.array([maybe(random.choice(
                     ['{"device":"mobile","step":%d}' % random.randint(1, 5),
                      '{"k":"%d","step":1}' % random.randint(-99, 99),
                      '{"k":%d}' % random.randint(-99, 99),
                      '{"k":"abc"}', '{"k":null}']), 0.15)
                     for _ in range(E)], pa.string())})
D = 25
vocab = ["the","a","of","el","la","de","zz","qq","wordword","x"]
docs = []
for i in range(D):
    if docs and random.random() < 0.2:
        txt = docs[-1][1]
    else:
        txt = " ".join(random.choice(vocab) for _ in range(random.randint(1, 25)))
    docs.append((i, txt))
# r8 divergence class (pipeline_padding_efficiency /
# pipeline_mixture_temperature / multimodal byte-length paths):
# token counts EXACTLY on the 64-grain bucket boundary (waste 0 in
# that bucket; ceil-div off-by-one would mis-bucket them) and a
# single-space text whose token count is ZERO after the empty-token
# filter (engines must agree the doc contributes to no bucket).
docs[D - 2] = (D - 2, " ".join(random.choice(vocab) for _ in range(64)))
docs[D - 1] = (D - 1, " ")
write("documents", {"doc_id": pa.array([d[0] for d in docs], pa.int64()),
                    "text": pa.array([d[1] for d in docs], pa.string()),
                    # NULL lang/source (r6 ADVICE): contingency-table
                    # margin joins drop NULL keys -- agg_chi_square must
                    # still emit its single global row on both engines.
                    "lang": pa.array([maybe(random.choice(["en","es","fr"])) for _ in range(D)], pa.string()),
                    "source": pa.array([maybe("src%d" % random.randint(0, 3)) for _ in range(D)], pa.string()),
                    "n_chars": pa.array([len(d[1]) for d in docs], pa.int64())})
V = 30
vecs = [[random.uniform(-1, 1) for _ in range(64)] for _ in range(V)]
# r8 divergence class (sim_pq / sim_ivf_persisted / dedup_semantic):
# duplicate vectors -> EXACT distance ties at the top-k cut; both
# engines must break them by id after 1e-6 quantization.
vecs[10] = list(vecs[3])
vecs[20] = list(vecs[3])
vecs[21] = list(vecs[7])
write("embeddings", {"vec_id": pa.array(range(V), pa.int64()),
                     "embedding": pa.array(vecs, pa.list_(pa.float32())),
                     "label": pa.array([i % 4 for i in range(V)], pa.int32())})

duck = duckdb.connect()
for tname in ("region nation customer supplier part orders lineitem events documents embeddings").split():
    duck.execute(f"CREATE VIEW {tname} AS SELECT * FROM read_parquet('{out}/{tname}.parquet')")
skip = {"ml_onehot"}  # vocabulary-bound by definition (see its docstring)
results = {"OK": 0}
fails = []
only = set(sys.argv[2:])
for name in sorted(specs):
    spec = specs[name]
    if spec.oracle is None or name in skip or (only and name not in only):
        continue
    try:
        got = spec.fn(spark, out)
        want = duck.execute(spec.oracle).df()
        assert_df_matches(got, want)
        results["OK"] += 1
    except AssertionError as e:
        fails.append((name, "MISMATCH", str(e)[:130]))
    except Exception as e:
        fails.append((name, type(e).__name__, str(e)[:130]))
# ------------- r9-wave targeted edge twins (r9 verdict task 3) -------
# Each twin overrides ONE table with a degenerate/adversarial shape the
# shared hostile tables cannot carry without wrecking every other
# query's coverage (e.g. a 1-day orders table), then hash-compares just
# the listed queries on it. Untouched tables are hard-linked from the
# main twin, so the edge datasets stay cheap.
ALL_TABLES = ("region nation customer supplier part orders lineitem "
              "events documents embeddings").split()
DAY_US = 86400 * 1_000_000


def orders_like(dates_days, prices):
    n = len(prices)
    return {"o_orderkey": pa.array(range(1, n + 1), pa.int64()),
            "o_custkey": pa.array([1] * n, pa.int64()),
            "o_orderstatus": pa.array(["F"] * n, pa.string()),
            "o_totalprice": pa.array(prices, pa.float64()),
            "o_orderdate": pa.array([d * DAY_US for d in dates_days],
                                    pa.timestamp("us")),
            "o_orderpriority": pa.array(["1-URGENT"] * n, pa.string()),
            "o_comment": pa.array(["e"] * n, pa.string())}


def lineitem_like(partkeys):
    n = len(partkeys)
    return {"l_orderkey": pa.array([1 + i % 7 for i in range(n)], pa.int64()),
            "l_partkey": pa.array(partkeys, pa.int64()),
            "l_suppkey": pa.array([1 + i % 3 for i in range(n)], pa.int64()),
            "l_linenumber": pa.array([i % 7 + 1 for i in range(n)], pa.int32()),
            "l_quantity": pa.array([float(i % 5 + 1) for i in range(n)], pa.float64()),
            "l_extendedprice": pa.array([100.0 + i for i in range(n)], pa.float64()),
            "l_discount": pa.array([0.05] * n, pa.float64()),
            "l_tax": pa.array([0.02] * n, pa.float64()),
            "l_returnflag": pa.array(["R"] * n, pa.string()),
            "l_linestatus": pa.array(["F"] * n, pa.string()),
            "l_shipdate": pa.array([9000 * DAY_US] * n, pa.timestamp("us"))}


EDGES = [
    # Theil-Sen pair-count edges: 1 day -> 0 pairs (both engines must
    # emit ZERO rows), 2 days -> exactly 1 pair.
    ("theil_sen_1day",
     {"orders": orders_like([9000] * 5, [10.0, 20.0, 30.0, 40.0, 50.0])},
     ["ts_theil_sen"]),
    ("theil_sen_2day",
     {"orders": orders_like([9000, 9000, 9001, 9001],
                            [10.0, 20.0, 30.0, 45.0])},
     ["ts_theil_sen"]),
    # Zero-variance daily series: sigma=0 makes every z-score NULL --
    # the SAX symbol must be 0 on both engines (CASE ELSE 0 semantics,
    # the r9-ADVICE fix), not NULL on one side.
    ("sax_constant",
     {"orders": orders_like(list(range(9000, 9040)), [123.45] * 40)},
     ["ts_sax_symbolic", "ts_theil_sen"]),
    # HDR buckets at exact powers of two and their +/-1 neighbors
    # (cents = 1 lands in bucket 0): floor(log2) must agree at every
    # boundary, including duplicated boundary values.
    ("hdr_boundaries",
     {"orders": orders_like(list(range(9000, 9012)),
                            [c / 100.0 for c in (1, 2, 3, 4, 255, 256,
                                                 257, 65535, 65536,
                                                 65537, 1, 4)])},
     ["agg_hdr_histogram"]),
    # CMS adversarial colliders: k and k + 2^31 hash to the SAME
    # bucket in EVERY row (the mod-2^31 fold is applied before the
    # Knuth multiply on both engines), so probe keys 5 and 7 are
    # guaranteed overestimated -- and the 2^31-scale keys would have
    # overflowed INT64 under the unfolded hash (DuckDB raise vs Spark
    # wrap, the r9-ADVICE class). Fillers keep multiple cells loaded.
    ("cms_colliders",
     {"lineitem": lineitem_like([5, 5, 5, 7, 7]
                                + [5 + 2 ** 31] * 4 + [7 + 2 ** 31]
                                + list(range(100, 140)))},
     ["agg_count_min_exact"]),
]

for label, overrides, qnames in EDGES:
    if only and not (set(qnames) & only):
        continue
    d = tempfile.mkdtemp(prefix=f"probe_edge_{label}_")
    try:
        for tname in ALL_TABLES:
            dst = os.path.join(d, f"{tname}.parquet")
            if tname in overrides:
                pq.write_table(pa.table(overrides[tname]), dst)
            else:
                os.link(os.path.join(out, f"{tname}.parquet"), dst)
        con = duckdb.connect()
        for tname in ALL_TABLES:
            con.execute(f"CREATE VIEW {tname} AS SELECT * FROM "
                        f"read_parquet('{d}/{tname}.parquet')")
        for qname in qnames:
            if only and qname not in only:
                continue
            try:
                got = specs[qname].fn(spark, d)
                want = con.execute(specs[qname].oracle).df()
                assert_df_matches(got, want)
                results["OK"] += 1
                print(f"EDGE {label}/{qname} OK", flush=True)
            except AssertionError as e:
                fails.append((f"{label}/{qname}", "MISMATCH", str(e)[:130]))
            except Exception as e:
                fails.append((f"{label}/{qname}", type(e).__name__, str(e)[:130]))
        con.close()
    finally:
        shutil.rmtree(d, ignore_errors=True)

for f in fails:
    print("FAIL", *f, flush=True)
print("SUMMARY OK:", results["OK"], "FAIL:", len(fails), flush=True)

if fails:
    sys.exit(1)
