"""PySpark-native analytics engine with the capabilities of the reference
repo `prajnapai/Parallelized_Hybrid_Sorting_using_Quick-Insertion_Sort_for_Big_Data`.

The reference implements a distributed total sort of integer arrays via a
hybrid quicksort + insertion-sort kernel (MPI scatter → local sort → gather →
min-heap k-way merge; CUDA segment sort → doubling merge). This engine
re-expresses that capability Spark-first:

- fidelity layer (``operators.sorting``, ``operators.hybrid``,
  ``sources.datagen``, ``io``): total sort / partition sort / top-k / ranked
  output, a reference-faithful hybrid-sort ``mapInArrow`` demo, seeded
  deterministic generators, ordered sinks, and a three-window benchmark
  harness mirroring the reference's timing methodology.
- extension layer (``operators.dedup``, ``operators.similarity``,
  ``operators.text``, ``operators.multimodal``, ``streaming``): the
  LLM-data-pipeline operators mandated by the project north star, each
  designed for 100 TB scale (no driver collect on the data path, broadcast
  small sides, AQE-friendly shuffles).

Everything here is built only on public Apache Spark / PySpark APIs.
"""

__version__ = "0.1.0"
