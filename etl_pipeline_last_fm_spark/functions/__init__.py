"""Scalar expression helpers with Postgres-parity semantics.

Everything here is a *Column expression* (JVM-side, codegen-able) — never a
Python UDF. See SURVEY.md §2.3 for the reference's full scalar surface.
"""
