"""r14 sf10 probe: demonstrate the posting-list candidate-mass guard
firing at saturation density (the measured 46.2e9-candidate corpus that
makes the governed ngram/containment keys intractable at sf10). Runs
the library default construction against the sf10 near corpus with
guard="raise" and prints the measured refusal."""
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from frames_spark.dedup import jaccard
from frames_spark.queries.q01_core_ops import _with_near_copies
from frames_spark.session import get_spark
from frames_spark.sources.tables import load_table

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/repo/testdata/sf10"
spark = get_spark("sf10-guard-demo")
corpus = _with_near_copies(load_table(spark, SF_DIR, "documents"))
try:
    jaccard.jaccard_pairs(
        corpus, "doc_id", "text", n=3, threshold=0.6, guard="raise"
    )
    print("GUARD DID NOT FIRE (unexpected at sf10)")
except ValueError as e:
    print(f"GUARD RAISED: {e}")
