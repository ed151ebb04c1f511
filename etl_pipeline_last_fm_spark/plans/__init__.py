"""Declarative query plans: the DDS star build and the DM marts."""
