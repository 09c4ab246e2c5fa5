package graft.sources

/** How graft writes the files of its tables. */
object TableFiles {

  /** Parquet writer options of every table file graft writes: zstd at
    * parquet-mr's default level. They go with each write, never into
    * the session conf, so every session writes the same table files and
    * a user's own `df.write.parquet` keeps the session's codec. Parquet
    * records the codec per column chunk, so files written with another
    * codec read unchanged.
    */
  val parquetOptions: Map[String, String] = Map("compression" -> "zstd")
}
