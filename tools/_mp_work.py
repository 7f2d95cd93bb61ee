"""Picklable worker for the multiprocessing control in tools/scaling.py."""

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def work(texts):
    from posextract_spark.kernel.extract import extract_triples_one
    from posextract_spark.parse.svo import SVOChunkParser

    svo = SVOChunkParser()
    n = 0
    for t in texts:
        n += len(extract_triples_one(svo.parse_one(t)))
    return n
