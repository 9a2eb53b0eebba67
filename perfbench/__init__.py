"""Seeded end-to-end benchmark of the multi-tenant vector service.

Run ``python3 perfbench/run.py --workload serve --seed 1 --seconds 10
--trace 0`` from the repository root; see ``perfbench/README.md``.
"""
