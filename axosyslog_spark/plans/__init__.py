"""Plans: the declarative pipeline spec and its DataFrame compiler.

Analog of the reference's config-compile path (lib/cfg-tree.c:982-1170
LogExprNode → LogPipe graph): a PipelineSpec (spec.py; built from a
JSON document by config.py, or flagship_spec() for the flagship job)
compiles into chained DataFrame transformations; Catalyst is the
physical planner. pipeline.py runs the flagship spec in batch.
"""
