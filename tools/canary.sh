# Shared host-noise canary (sourced, not executed): best-of-3 warm DuckDB
# aggregate over the sf0.1 lineitem fixture. Quiet <= $CANARY_BAR (0.032),
# degraded >= 0.2 — tools/bench_gate.md. The bar's one Scala home is the
# constant Bench.CanaryBar, and BenchSpec fails when this copy differs; the
# recipe's Scala home is Bench.hostCanary().
CANARY_BAR=0.032

# Fail-CLOSED (ADVICE r17): python3/duckdb absent or erroring emits the
# sentinel -1 (Bench.hostCanary's convention), which canary_quiet rejects
# — an unmeasurable window must never read as quiet.
canary() {
python3 - <<'EOF' || echo "-1"
import duckdb, time
con = duckdb.connect()
con.execute("CREATE VIEW lineitem AS SELECT * FROM "
            "read_parquet('/root/testdata/sf0.1/lineitem.parquet')")
best = 9.0
for _ in range(3):
    t0 = time.perf_counter()
    con.execute("SELECT l_returnflag, sum(l_extendedprice) "
                "FROM lineitem GROUP BY 1").fetchall()
    best = min(best, time.perf_counter() - t0)
print(f"{best:.3f}")
EOF
}

# empty / non-numeric / negative input is NOT quiet: awk would coerce ""
# to 0 and certify an unmeasured window (ADVICE r17)
canary_quiet() {
  case "$1" in
    ''|*[!0-9.]*) return 1;;
  esac
  awk -v c="$1" -v b="$CANARY_BAR" 'BEGIN{exit !(c <= b && c >= 0)}'
}
