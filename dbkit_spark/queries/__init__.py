"""Declared-query corpus (BASELINE.md query set; ≥1 query per SURVEY.md §2
operator row). Modules register into ``dbkit_spark.catalog.CATALOG``;
``catalog.load_all()`` imports every module here whose name does not
start with ``_``.

Placement rule: a query lives in one domain module, chosen by the engine
modules its function references (function-local ``from ..x import``
lines plus module-level imported names it uses); the first matching row
wins:

1. any ``streaming.*`` → ``events``
2. ``operators.mlmetrics`` or ``llm.texteval`` → ``evaluation``
3. ``llm.dedup``, ``llm.cluster``, ``llm.similarity``, ``llm.retrieval``
   or ``llm.decontaminate`` → ``similarity``
4. any other ``llm.*``, or ``functions.text``, ``functions.vectors``,
   ``functions.psl`` or ``functions.net`` → ``llm``
5. any ``operators.*`` outside the relational core (``aggregate``,
   ``joins``, ``setops``, ``window``, ``rownumber``, ``sort``, ``filter``,
   ``project``, ``grouped``, ``rollup_hierarchy``) → ``analytics``
6. anything else → ``relational`` (``joins``, ``aggregates``,
   ``windows`` and ``scalars`` hold their own operator families)

A helper used by one module lives there; a helper shared by several
lives in ``_sql``.
"""
