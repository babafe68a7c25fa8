"""Long-suite inflation experiment: time reference queries early,
after a heavy filler suite, and after a JVM GC nudge."""
import os, sys, time, json
sys.path.insert(0, '/root/repo')
SF='/root/testdata/sf0.1'
os.environ['SPARK_GRAFT_SF_DIR']=SF
from task_hive_spark.session import get_spark
import __spark_entry__ as entrymod

spark = get_spark('inflate_exp')
qs = entrymod.queries()
REF = ['dd_simhash', 'rel_q1_pricing_summary', 'sk_hll_distinct']

def pre_run(name):
    if name == 'txt_bpe_merges':
        from task_hive_spark.materialize import drop_memo; drop_memo(spark, ('bpe_merges', SF))
    if name == 'dd_minhash_lsh_pairs':
        from task_hive_spark.materialize import drop_memo; drop_memo(spark, ('index', SF, 'lsh_pairs'))

def t(name, n=3):
    best=float('inf')
    for _ in range(n):
        pre_run(name)
        t0=time.perf_counter()
        qs[name](spark, SF).write.format('noop').mode('overwrite').save()
        best=min(best, time.perf_counter()-t0)
    return round(best,4)

def mem():
    rt=spark._jvm.java.lang.Runtime.getRuntime()
    used=(rt.totalMemory()-rt.freeMemory())/1e6
    ninfo=len(spark.sparkContext._jsc.sc().getRDDStorageInfo())
    return round(used), ninfo

qs['th_stats'](spark, SF).write.format('noop').mode('overwrite').save()
# warm refs
for q in REF: t(q,2)
early={q:t(q) for q in REF}
print('early', json.dumps(early), 'mem', mem(), flush=True)

from bench import HEADLINE
for rounds in range(2):
    for name in HEADLINE:
        if name in qs:
            try:
                pre_run(name)
                qs[name](spark, SF).write.format('noop').mode('overwrite').save()
            except Exception as e:
                print('filler err', name, repr(e)[:80], flush=True)
    late={q:t(q) for q in REF}
    print('after filler round', rounds, json.dumps(late), 'mem', mem(), flush=True)

spark._jvm.System.gc()
time.sleep(3)
spark._jvm.System.gc()
time.sleep(2)
post_gc={q:t(q) for q in REF}
print('after gc', json.dumps(post_gc), 'mem', mem(), flush=True)
