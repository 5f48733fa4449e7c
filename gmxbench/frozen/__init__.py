"""A frozen copy of the project's record synthesis and XML serializer
(``gmx.corpus``, ``gmx.serialize``, ``gmx.specs``), taken when the benchmark
was defined.  The benchmark generates its metadata documents with this copy,
so a change to the engine's serializer or corpus helpers does not change the
documents the benchmark feeds the engine: two commits are always measured on
the same bytes.
"""
