"""Picklable worker for the multiprocessing control in tools/scaling.py."""

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def work(texts):
    from posextract_spark.kernel.extract import extract_triples_one
    from posextract_spark.parse.svo import SVOChunkParser

    return sum(len(extract_triples_one(s)) for s in SVOChunkParser().parse_lazy_batch(texts))
