import org.apache.spark.sql.{DataFrame, SparkSession}

package object graft {

  /** A registered query's run function: (session, scale-factor dir) → result. */
  type Q = (SparkSession, String) => DataFrame
}
