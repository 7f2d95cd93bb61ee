"""Pure-Python extraction kernel (zero Spark imports).

Operates on the parse arrays (words, lemmas, pos, dep, head, kid_idx) of
one sentence; ``head`` is a token index, ROOT points at itself
(kernel.model). The Spark layer invokes these functions from the
mapInPandas batch function (operators.batches); the pytest suite invokes
them directly on fixture parses.

Semantics are a faithful re-expression of the reference's rule engine
(reference: src/posextract/{traversal,rules,util,triple_extraction,
grammatical_triples,verb_phrase}.py), including its load-bearing quirks —
see each module's docstrings for file:line citations.
"""

from posextract_spark.kernel.model import Sentence, Token, VerbPhrase  # noqa: F401
from posextract_spark.kernel.extract import extract_triples_one  # noqa: F401
from posextract_spark.kernel.quotes import split_quotes  # noqa: F401
