"""Golden pins for posrule parenthesized-rule association (VERDICT r2 item 8).

The reference parses with Lark LALR + a quirky re-association hack in the
transformer (reference: src/posextract/posrule/parser.py:125-142). lark is
absent in this sandbox, so the reference behavior below is HAND-DERIVED from
that code; each case documents its derivation:

* Grammar (reference grammar.py:9-11): ``rule: '(' rule ')' (op rule)* |
  equality (op rule)*``. Lark's LALR expansion of ``(op rule)*`` lets the
  INNERMOST rule greedily consume every following ``op rule`` group (after
  an equality, lookahead AND/OR shifts into the inner star — the outer star
  only resumes at ')' or ';', by which point no operators remain). Hence
  every chain is RIGHT-associative and AND has NO precedence over OR:
  ``A AND B OR C`` == ``AND(A, OR(B, C))``.
* Transformer ``rule`` (reference parser.py:125-142): ``len==3`` with an
  op token at [1] -> ``Expression(op, tree[0], tree[2])``; a LPAREN head
  re-associates as ``self.rule([inner] + self.rule(tail))`` which is the
  same right fold, so ``( group ) op rest`` == ``op(group, rest)``.
* CRASH (the divergence we accept): a parenthesized group NOT followed by
  an operator — ``MATCH (A);`` or a trailing ``... AND (B)`` — produces a
  rule node ``[LPAREN, expr, RPAREN]``; the hack calls
  ``self.rule(tree[3:])`` == ``self.rule([])`` whose first isinstance check
  dereferences ``tree[0]`` -> IndexError (surfaced by lark as VisitError).
  The reference can never evaluate these files. Our recursive-descent
  parser (posextract_spark/posrule/parser.py:133-146) accepts them with the
  only sensible semantics (the parens are redundant grouping). This is the
  single intentional divergence; everything the reference survives parses
  to an identical tree here.
"""

from posextract_spark.posrule.parser import Equality, Expr, parse_posrule_text


def eq(var, val):
    return Equality(var, val, is_regex=False)


def test_chain_is_right_associative_no_precedence():
    # reference: inner star greed -> A AND (B OR C), NOT (A AND B) OR C
    node = parse_posrule_text('MATCH SUBJECT="a" AND VERB="b" OR PREDICATE="c";')
    assert node == Expr("AND", eq("SUBJECT", "a"), Expr("OR", eq("VERB", "b"), eq("PREDICATE", "c")))


def test_or_then_and_also_right_associative():
    node = parse_posrule_text('MATCH SUBJECT="a" OR VERB="b" AND PREDICATE="c";')
    assert node == Expr("OR", eq("SUBJECT", "a"), Expr("AND", eq("VERB", "b"), eq("PREDICATE", "c")))


def test_paren_group_binds_left():
    # reference transformer re-association: op(group, rest)
    node = parse_posrule_text('MATCH (SUBJECT="a" AND VERB="b") OR PREDICATE="c";')
    assert node == Expr("OR", Expr("AND", eq("SUBJECT", "a"), eq("VERB", "b")), eq("PREDICATE", "c"))


def test_nested_parens_each_followed_by_operator():
    node = parse_posrule_text('MATCH ((SUBJECT="a" OR VERB="b") AND PREDICATE="c") OR VERB="d";')
    assert node == Expr(
        "OR",
        Expr("AND", Expr("OR", eq("SUBJECT", "a"), eq("VERB", "b")), eq("PREDICATE", "c")),
        eq("VERB", "d"),
    )


def test_paren_group_then_chain():
    # reference: rule([A, AND, rule([B OR C])]) -> AND(A, OR(B, C))
    node = parse_posrule_text('MATCH (SUBJECT="a") AND VERB="b" OR PREDICATE="c";')
    assert node == Expr("AND", eq("SUBJECT", "a"), Expr("OR", eq("VERB", "b"), eq("PREDICATE", "c")))


def test_reference_example_file_shape():
    # reference examples/example.posrule (parens followed by OR: survives)
    text = (
        'MATCH (SUBJECT="dog" AND PREDICATE="house") OR SUBJECT="bowl";\n'
        'MATCH SUBJECT=RE<"cats?">;\n'
        '//this is a comment\n'
        'IGNORE VERB="walking";\n'
    )
    node = parse_posrule_text(text)
    m1 = Expr("OR", Expr("AND", eq("SUBJECT", "dog"), eq("PREDICATE", "house")), eq("SUBJECT", "bowl"))
    assert node.op == "AND"
    assert node.left == Expr("OR", m1, node.left.right)  # m1 OR m2
    assert node.left.right.is_regex and node.left.right.value == "cats?"
    assert node.right == Expr("IGNORE", eq("VERB", "walking"))


def test_divergence_bare_paren_accepted_here_crashes_reference():
    # reference parser.py:139 -> self.rule([]) -> IndexError (VisitError);
    # we accept redundant grouping. DOCUMENTED DIVERGENCE.
    node = parse_posrule_text('MATCH (SUBJECT="a");')
    assert node == eq("SUBJECT", "a")


def test_divergence_trailing_paren_accepted_here_crashes_reference():
    node = parse_posrule_text('MATCH SUBJECT="a" AND (VERB="b");')
    assert node == Expr("AND", eq("SUBJECT", "a"), eq("VERB", "b"))
