"""Dev runner: compare every registered query against its DuckDB oracle at sf0.01.

Usage: python scripts/check_oracle.py [name ...]
"""

from __future__ import annotations

import sys
import time

sys.path.insert(0, "/root/repo")
sys.path.insert(0, "/root/repo/tests")

from oracle_utils import compare, duck_con  # noqa: E402

import __spark_entry__ as entry_mod  # noqa: E402
from semantic_search_system_spark.fixtures.interleave import build_interleaved  # noqa: E402
from semantic_search_system_spark.session import _DEF_CPUS, get_spark  # noqa: E402

SF = "/root/testdata/sf0.01"


def main() -> int:
    build_interleaved(SF)
    spark = get_spark("oracle-check", master=f"local[{_DEF_CPUS}]")
    con = duck_con(SF)
    registry = entry_mod.queries()
    names = sys.argv[1:] or sorted(registry)
    oracles = entry_mod.oracle_sql()
    failed = []
    for name in names:
        fn = registry[name]
        t0 = time.time()
        try:
            df = fn(spark, SF)
            if name not in oracles:
                n = df.count()
                print(f"  {name:32s} rows-only: {n} rows  ({time.time()-t0:.1f}s)")
                continue
            res = compare(df, oracles[name], con)
            ok = res["rows_match"] and res["schema_match"] and res["values_match"]
            tag = "OK " if ok else "FAIL"
            print(
                f"{tag} {name:32s} spark={res['n_spark']} duck={res['n_duck']} "
                f"schema={res['schema_match']} values={res['values_match']} ({time.time()-t0:.1f}s)"
            )
            if not ok:
                failed.append(name)
                print(f"     cols spark={res['spark_cols']} duck={res['duck_cols']}")
                for a, b in res["sample_diff"]:
                    print(f"     spark={a}\n     duck ={b}")
        except Exception as e:  # noqa: BLE001
            failed.append(name)
            print(f"ERR  {name}: {type(e).__name__}: {e}")
    print(f"\n{len(names)-len(failed)}/{len(names)} passed")
    return 1 if failed else 0


if __name__ == "__main__":
    raise SystemExit(main())
